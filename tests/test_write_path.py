from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from block_explorer_spark import schemas
from block_explorer_spark.sources import generators as gen
from block_explorer_spark.sources import parquet as pq
from block_explorer_spark.streaming import pipeline as P


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "warehouse")


def test_upsert_insert_then_update(spark, base):
    pulses = gen.make_pulses(start=4_000_000, count=5)
    df = spark.createDataFrame(pulses, schemas.PULSES)
    pq.save_pulse(spark, base, df)
    assert pq.read_table(spark, base, "pulses").count() == 5

    # same keys, changed values -> update not duplicate
    updated = [dict(p, timestamp=p["timestamp"] + 999) for p in pulses[:2]]
    pq.save_pulse(spark, base, spark.createDataFrame(updated, schemas.PULSES))
    out = pq.read_table(spark, base, "pulses")
    assert out.count() == 5
    ts = {r.pulse_number: r.timestamp for r in out.collect()}
    assert ts[4_000_000] == pulses[0]["timestamp"] + 999
    assert ts[4_000_020] == pulses[2]["timestamp"]


def test_upsert_idempotent_replay(spark, base):
    _, drops, records = gen.make_flat_seed(seed=3, n_pulses=5, n_drops=10, n_records=30)
    ddf = spark.createDataFrame(drops, schemas.JET_DROPS)
    rdf = spark.createDataFrame(records, schemas.RECORDS)
    pq.save_jet_drop_data(spark, base, ddf, rdf)
    c1 = (
        pq.read_table(spark, base, "jet_drops").count(),
        pq.read_table(spark, base, "records").count(),
    )
    pq.save_jet_drop_data(spark, base, ddf, rdf)  # replay
    c2 = (
        pq.read_table(spark, base, "jet_drops").count(),
        pq.read_table(spark, base, "records").count(),
    )
    assert c1 == c2


def test_upsert_only_touched_buckets(spark, base):
    far_apart = gen.make_pulses(start=4_000_000, count=2) + gen.make_pulses(
        start=9_000_000, count=2
    )
    pq.save_pulse(spark, base, spark.createDataFrame(far_apart, schemas.PULSES))
    one_bucket = gen.make_pulses(start=4_000_000, count=1, base_ts=7)
    pq.save_pulse(spark, base, spark.createDataFrame(one_bucket, schemas.PULSES))
    out = pq.read_table(spark, base, "pulses")
    assert out.count() == 4  # untouched bucket intact
    assert out.filter(F.col("pulse_number") == 9_000_000).count() == 1


def test_flags_and_counters(spark, base):
    pulses, drops, records = gen.make_flat_seed(seed=5, n_pulses=4, n_drops=8, n_records=20)
    for p in pulses:
        p["is_complete"] = False
        p["is_sequential"] = False
    pq.save_pulse(spark, base, spark.createDataFrame(pulses, schemas.PULSES))
    pq.save_jet_drop_data(
        spark,
        base,
        spark.createDataFrame(drops, schemas.JET_DROPS),
        spark.createDataFrame(records, schemas.RECORDS),
    )
    P.run_control_pass(spark, base)
    got = {
        r.pulse_number: (r.jet_drop_amount, r.record_amount)
        for r in pq.read_table(spark, base, "pulses").collect()
    }
    expected_drops = {}
    for d in drops:
        expected_drops.setdefault(d["pulse_number"], [0, 0])
        expected_drops[d["pulse_number"]][0] += 1
        expected_drops[d["pulse_number"]][1] += d["record_amount"]
    for pn, (jd, ra) in expected_drops.items():
        assert got[pn] == (jd, ra), pn
    # pulses with no drops -> zeros
    for pn in got:
        if pn not in expected_drops:
            assert got[pn] == (0, 0)


def test_upsert_cross_bucket_key_redelivery(spark, base):
    """A records PK re-delivered with a changed pulse_number lands in a
    different bucket. With key_bucket_affinity=False the stale copy in
    the old bucket is rewritten out, matching the reference's global
    ON CONFLICT upsert (etl/storage/storage.go:28-94)."""
    _, _, records = gen.make_flat_seed(seed=7, n_pulses=2, n_drops=4, n_records=12)
    rdf = spark.createDataFrame(records, schemas.RECORDS)
    pq.upsert(spark, base, "records", rdf)
    n0 = pq.read_table(spark, base, "records").count()

    moved = dict(records[0])
    moved["pulse_number"] = moved["pulse_number"] + 5 * pq.PULSE_BUCKET_SIZE
    mdf = spark.createDataFrame([moved], schemas.RECORDS)
    pq.upsert(spark, base, "records", mdf, key_bucket_affinity=False)

    out = pq.read_table(spark, base, "records")
    assert out.count() == n0  # no duplicate PK
    got = out.filter(F.col("reference") == moved["reference"]).collect()
    assert len(got) == 1 and got[0].pulse_number == moved["pulse_number"]


def _drop_row(pn: int, jet: str, n_recs: int) -> dict:
    return {
        "pulse_number": pn,
        "jet_id": jet,
        "first_prev_hash": b"p1",
        "second_prev_hash": b"p2",
        "hash": jet.encode(),
        "raw_data": b"r",
        "timestamp": pn,
        "record_amount": n_recs,
    }


def _rec_row(pn: int, jet: str, i: int) -> dict:
    return {
        "reference": f"{jet}-{i}".encode(),
        "type": "state",
        "object_reference": b"obj",
        "prototype_reference": b"proto",
        "payload": b"",
        "prev_record_reference": None,
        "hash": b"h",
        "raw_data": b"r",
        "jet_id": jet,
        "pulse_number": pn,
        "order": i,
        "timestamp": pn,
    }


def test_interleaved_same_pulse_saves_and_counters(spark, base):
    """reference: etl/storage/storage_test.go:99-155
    (SaveJetDropData_ConcurrentCalls) — three independent saves into
    ONE pulse (two drops with 2 records each, one drop with none).
    The reference proves transactional counter bumps race-free; here
    the MERGE keys are disjoint so save order is immaterial, and the
    derived counters land on exactly (3 drops, 4 records)."""
    pn = 4_000_010
    pulses = gen.make_pulses(start=pn, count=1, complete=False, sequential=False)
    pq.save_pulse(spark, base, spark.createDataFrame(pulses, schemas.PULSES))

    batches = [
        ([_drop_row(pn, "00", 2)], [_rec_row(pn, "00", 0), _rec_row(pn, "00", 1)]),
        ([_drop_row(pn, "01", 2)], [_rec_row(pn, "01", 0), _rec_row(pn, "01", 1)]),
        ([_drop_row(pn, "10", 0)], []),  # a drop with no records is valid
    ]
    for drops, recs in batches:
        pq.save_jet_drop_data(
            spark,
            base,
            spark.createDataFrame(drops, schemas.JET_DROPS),
            spark.createDataFrame(recs, schemas.RECORDS),
        )
    P.run_control_pass(spark, base)
    row = pq.read_table(spark, base, "pulses").collect()[0]
    assert (row.jet_drop_amount, row.record_amount) == (3, 4)
    assert pq.read_table(spark, base, "jet_drops").count() == 3
    assert pq.read_table(spark, base, "records").count() == 4


def test_save_pulse_replayed_20x_single_row(spark, base):
    """reference: etl/storage/storage_test.go:611-661
    (SavePulse_Concurrency) — 20 saves of the same pulse leave
    exactly one unchanged row (PK-keyed MERGE idempotence standing in
    for the reference's ON CONFLICT txn)."""
    pulses = gen.make_pulses(start=4_000_020, count=1, complete=False, sequential=False)
    df = spark.createDataFrame(pulses, schemas.PULSES)
    for _ in range(20):
        pq.save_pulse(spark, base, df)
    out = pq.read_table(spark, base, "pulses").collect()
    assert len(out) == 1
    got = out[0].asDict()
    assert {k: got[k] for k in pulses[0]} == pulses[0]


def test_delete_where_touches_only_matching_buckets(spark, base):
    """Retention sweep: rows deleted only where the predicate hits;
    bucket directories with no matches keep their exact files."""
    import os

    # two buckets: pulses 500 (bucket 0) and 1500 (bucket 1)
    rows = [_rec_row(500, "0", i) for i in range(4)] + [
        _rec_row(1500, "1", i) for i in range(3)
    ]
    # distinct references across pulses
    for i, r in enumerate(rows):
        r["reference"] = bytes([0xB0 + i])
    pq.upsert(spark, base, "records", spark.createDataFrame(rows, schemas.RECORDS))

    bucket1 = os.path.join(pq.table_path(base, "records"), "pulse_bucket=1")
    files_before = sorted(os.listdir(bucket1))

    n = pq.delete_where(
        spark, base, "records", (F.col("pulse_number") == 500) & (F.col("order") >= 2)
    )
    assert n == 2
    left = pq.read_table(spark, base, "records")
    assert left.filter(F.col("pulse_number") == 500).count() == 2
    assert left.filter(F.col("pulse_number") == 1500).count() == 3
    assert sorted(os.listdir(bucket1)) == files_before  # untouched bucket intact

    # deleting everything in a bucket stops listing it (round 6: the
    # commit is a manifest swap; files persist for snapshot readers
    # until vacuum physically removes them and their empty directory)
    from block_explorer_spark.sources import manifest as Mf

    n = pq.delete_where(spark, base, "records", F.col("pulse_number") == 1500)
    assert n == 3
    assert pq.read_table(spark, base, "records").filter(
        F.col("pulse_number") == 1500
    ).count() == 0
    Mf.vacuum(base, min_age_s=0)
    assert not os.path.exists(bucket1)
    # idempotent: re-running deletes nothing
    assert pq.delete_where(spark, base, "records", F.col("pulse_number") == 1500) == 0


def test_upsert_crash_replay(spark, base, monkeypatch):
    """Crash-recovery contract of the transactional upsert (round 6):
    a kill between staging and the manifest commit leaves the table
    untouched — the staged files exist but NOTHING lists them, so
    there is no partial state to read at all; replaying the same batch
    completes the merge. Matches the reference's txn semantics pinned
    by test/integration/db_integration_test.go:106-211."""
    import os

    from block_explorer_spark.sources import manifest as Mf

    seed = [_rec_row(500, "0", i) for i in range(3)] + [
        _rec_row(1500, "1", i) for i in range(3)
    ]
    for i, r in enumerate(seed):
        r["reference"] = bytes([0xD0 + i])
    pq.upsert(spark, base, "records", spark.createDataFrame(seed, schemas.RECORDS))
    before = {
        bytes(r.reference): bytes(r.payload)
        for r in pq.read_table(spark, base, "records").collect()
    }

    # batch B: update one row per bucket (collision -> merge-rewrite path)
    batch = [dict(seed[0], payload=b"new-0"), dict(seed[3], payload=b"new-3")]
    bdf = spark.createDataFrame(batch, schemas.RECORDS)

    # --- crash #1: after the merge is staged, before the manifest CAS
    orig_commit = Mf.commit

    def crash_on_commit(*a, **kw):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(Mf, "commit", crash_on_commit)
    with pytest.raises(Exception, match="injected crash"):
        pq.upsert(spark, base, "records", bdf)
    monkeypatch.setattr(Mf, "commit", orig_commit)

    after_crash = {
        bytes(r.reference): bytes(r.payload)
        for r in pq.read_table(spark, base, "records").collect()
    }
    assert after_crash == before  # table untouched
    assert not [d for d in os.listdir(base) if d.startswith(".staging-")]

    # replaying the SAME batch completes the merge
    pq.upsert(spark, base, "records", bdf)
    expected = dict(before)
    expected[seed[0]["reference"]] = b"new-0"
    expected[seed[3]["reference"]] = b"new-3"
    healed = {
        bytes(r.reference): bytes(r.payload)
        for r in pq.read_table(spark, base, "records").collect()
    }
    assert healed == expected

    # --- crash #2: mid-commit (bucket 0 rewritten, bucket 1 stale).
    # That intermediate state is byte-identical to having merged only
    # the bucket-0 half of the batch; replaying the FULL batch heals.
    batch2 = [dict(seed[1], payload=b"v2-1"), dict(seed[4], payload=b"v2-4")]
    pq.upsert(
        spark, base, "records",
        spark.createDataFrame([batch2[0]], schemas.RECORDS),
    )  # simulated partial commit
    pq.upsert(spark, base, "records", spark.createDataFrame(batch2, schemas.RECORDS))
    expected[seed[1]["reference"]] = b"v2-1"
    expected[seed[4]["reference"]] = b"v2-4"
    final = {
        bytes(r.reference): bytes(r.payload)
        for r in pq.read_table(spark, base, "records").collect()
    }
    assert final == expected
    assert pq.read_table(spark, base, "records").count() == 6  # no dupes


def test_delete_where_null_predicate_rows_survive(spark, base):
    """Three-valued-logic regression: a predicate over a nullable
    column evaluates to NULL on NULL rows; delete must treat NULL as
    not-a-match (keep the row), not silently delete it. Before the
    fix, ~predicate dropped every NULL-predicate row in a hit bucket
    and counted them as deleted."""
    rows = [_rec_row(500, "0", i) for i in range(5)]
    for i, r in enumerate(rows):
        r["reference"] = bytes([0xC0 + i])
    # rows 0-1 have a prev link, rows 2-4 are chain heads (NULL prev)
    rows[0]["prev_record_reference"] = b"target"
    rows[1]["prev_record_reference"] = b"other"
    pq.upsert(spark, base, "records", spark.createDataFrame(rows, schemas.RECORDS))

    n = pq.delete_where(
        spark, base, "records", F.col("prev_record_reference") == b"target"
    )
    assert n == 1  # only the TRUE-predicate row, not the 3 NULL rows
    left = pq.read_table(spark, base, "records")
    assert left.count() == 4
    assert left.filter(F.col("prev_record_reference").isNull()).count() == 3
    assert left.filter(F.col("prev_record_reference") == b"other").count() == 1


def test_compact_table_reduces_files_keeps_rows(spark, base):
    """Many small per-batch appends -> one file per bucket after
    compaction; row set identical."""
    for batch in range(6):
        rows = [_rec_row(500, "0", batch * 10 + i) for i in range(3)]
        for i, r in enumerate(rows):
            r["reference"] = bytes([0xC0 + batch * 3 + i])
        pq.upsert(spark, base, "records", spark.createDataFrame(rows, schemas.RECORDS))

    from block_explorer_spark.sources import manifest as Mf

    def live_bucket_files(bucket):
        rels = Mf.read(base)["families"]["records"]
        return pq._files_per_bucket(rels).get(bucket, [])

    before = live_bucket_files(0)
    assert len(before) >= 6  # each append fast-path left a file
    rows_before = sorted(
        r.reference for r in pq.read_table(spark, base, "records").collect()
    )

    stats = pq.compact_table(spark, base, "records", max_files_per_bucket=2)
    assert stats["buckets_compacted"] == 1
    assert stats["files_after"] < stats["files_before"]
    after = live_bucket_files(0)
    assert len(after) <= 2
    rows_after = sorted(
        r.reference for r in pq.read_table(spark, base, "records").collect()
    )
    assert rows_after == rows_before
    # under threshold now: second compaction is a no-op
    assert pq.compact_table(spark, base, "records", max_files_per_bucket=2)[
        "buckets_compacted"
    ] == 0


def test_schema_evolution_old_buckets_null_fill(spark, base, monkeypatch):
    """Round 4: a newer engine adds a column to a table schema; buckets
    written before the upgrade must read back with the new column
    null-filled (deterministically — read_table pins the schema
    explicitly instead of footer sampling), and post-upgrade writes
    coexist with old buckets in one unified read."""
    from pyspark.sql import types as T

    old = gen.make_pulses(start=4_000_000, count=3)
    pq.upsert(spark, base, "pulses", spark.createDataFrame(old, schemas.PULSES))

    evolved = T.StructType(
        list(schemas.PULSES.fields) + [T.StructField("ingest_host", T.StringType())]
    )
    monkeypatch.setitem(pq.TABLE_SCHEMAS, "pulses", evolved)

    # old buckets: new column present and null
    got = pq.read_table(spark, base, "pulses")
    assert "ingest_host" in got.columns
    rows = got.collect()
    assert len(rows) == 3
    assert all(r["ingest_host"] is None for r in rows)

    # a post-upgrade batch (different bucket range so both kinds of
    # file exist on disk) joins the same unified read
    new = [dict(p, pulse_number=p["pulse_number"] + 1_000_000, ingest_host="h1")
           for p in gen.make_pulses(start=4_000_000, count=2)]
    pq.upsert(spark, base, "pulses", spark.createDataFrame(new, evolved))
    got = {r["pulse_number"]: r["ingest_host"] for r in
           pq.read_table(spark, base, "pulses").collect()}
    assert len(got) == 5
    assert got[5_000_000] == "h1" and got[4_000_000] is None


def test_corrupt_file_surfaces_unless_opted_out(spark, base):
    """Round 4: a truncated/garbage file inside a bucket fails the
    read loudly by default; ignore_corrupt=True is the explicit
    operational sweep mode that serves the surviving rows."""
    import glob
    import os

    pulses = gen.make_pulses(start=4_000_000, count=3)
    pq.upsert(spark, base, "pulses", spark.createDataFrame(pulses, schemas.PULSES))
    # bit-rot a LIVE (manifested) file in place — an out-of-band file
    # dropped into the directory would simply be invisible (round 6:
    # reads list the manifest, not the directory). Corrupt a second
    # bucket's file so healthy rows remain to serve in sweep mode.
    extra = gen.make_pulses(start=9_000_000, count=1)
    pq.upsert(spark, base, "pulses", spark.createDataFrame(extra, schemas.PULSES))
    victim_dir = glob.glob(os.path.join(base, "pulses", "pulse_bucket=9000"))[0]
    victim = glob.glob(os.path.join(victim_dir, "*.parquet"))[0]
    with open(victim, "wb") as f:
        f.write(b"not a parquet file at all")

    with pytest.raises(Exception):
        pq.read_table(spark, base, "pulses").collect()

    rows = pq.read_table(spark, base, "pulses", ignore_corrupt=True).collect()
    assert len(rows) == 3


def test_concurrent_upserts_same_bucket_lose_nothing(spark, base):
    """Round-6 gate (VERDICT item 1): two writers merging DIFFERENT
    rows into the SAME bucket concurrently — e.g. a backfill
    overlapping live ingest on one pulse range — must both land. The
    old dynamic-partition-overwrite protocol could lose the loser's
    rows; the manifest CAS serializes them (the loser re-merges
    against the winner's commit and retries)."""
    import threading

    seed = [_rec_row(500, "0", i) for i in range(3)]
    for i, r in enumerate(seed):
        r["reference"] = bytes([0xA0 + i])
    pq.upsert(spark, base, "records", spark.createDataFrame(seed, schemas.RECORDS))

    def writer(tag, start):
        rows = [_rec_row(500, "0", start + i) for i in range(4)]
        for i, r in enumerate(rows):
            r["reference"] = bytes([tag, i])
        pq.upsert(spark, base, "records", spark.createDataFrame(rows, schemas.RECORDS))

    errs = []

    def run(tag, start):
        try:
            writer(tag, start)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    t1 = threading.Thread(target=run, args=(0x01, 10))
    t2 = threading.Thread(target=run, args=(0x02, 20))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    refs = sorted(
        bytes(r.reference)
        for r in pq.read_table(spark, base, "records").collect()
    )
    want = sorted(
        [bytes([0xA0 + i]) for i in range(3)]
        + [bytes([0x01, i]) for i in range(4)]
        + [bytes([0x02, i]) for i in range(4)]
    )
    assert refs == want  # zero lost rows, zero duplicates


def test_reader_snapshot_survives_delete(spark, base):
    """Round-6 gate (VERDICT item 1): a reader that pinned a manifest
    snapshot before a delete commits keeps reading the full
    pre-delete row set (old files are immutable until vacuum), while
    a fresh reader sees the post-delete state."""
    from block_explorer_spark.sources import manifest as Mf

    rows = [_rec_row(500, "0", i) for i in range(6)]
    for i, r in enumerate(rows):
        r["reference"] = bytes([0xE0 + i])
    pq.upsert(spark, base, "records", spark.createDataFrame(rows, schemas.RECORDS))

    snap = Mf.read(base)
    pinned = pq.read_table(spark, base, "records", snapshot=snap)

    n = pq.delete_where(spark, base, "records", F.col("order") >= 3)
    assert n == 3
    # fresh reader: post-delete state
    assert pq.read_table(spark, base, "records").count() == 3
    # pinned reader: still the pre-delete world, row-for-row
    assert pinned.count() == 6
    # and a snapshot taken now is isolated from a LATER upsert too
    snap2 = Mf.read(base)
    pinned2 = pq.read_table(spark, base, "records", snapshot=snap2)
    more = [_rec_row(500, "0", 99)]
    more[0]["reference"] = bytes([0xFF])
    pq.upsert(spark, base, "records", spark.createDataFrame(more, schemas.RECORDS))
    assert pinned2.count() == 3
    assert pq.read_table(spark, base, "records").count() == 4


def test_save_jet_drop_data_single_atomic_commit(spark, base):
    """Round 6: jet_drops + records publish in ONE manifest version —
    the reference's single-txn visibility (storage.go:28-82). No
    intermediate version exists where one table landed without the
    other."""
    from block_explorer_spark.sources import manifest as Mf

    pn = 4_000_000
    drops = [_drop_row(pn, "00", 3), _drop_row(pn, "01", 3)]
    recs = [_rec_row(pn, j, i) for j in ("00", "01") for i in range(3)]
    v0 = Mf.current_version(base)
    pq.save_jet_drop_data(
        spark,
        base,
        spark.createDataFrame(drops, schemas.JET_DROPS),
        spark.createDataFrame(recs, schemas.RECORDS),
    )
    assert Mf.current_version(base) == v0 + 1  # one commit, two tables
    assert pq.read_table(spark, base, "jet_drops").count() == 2
    assert pq.read_table(spark, base, "records").count() == 6


def test_pre_manifest_warehouse_raises_until_migrated(spark, base):
    """The relational twin of the corpus store's pre-manifest case: a
    warehouse populated by direct .parquet() writes (written before the
    manifest log, like the scale fixtures) holds files no manifest
    lists. Reads and upserts raise, naming `migrate`, instead of
    answering "empty" or hiding the files behind a first commit;
    migrate() adopts them exactly once, after which snapshot reads see
    old and new rows together and a delete touches the adopted files."""
    import os

    from block_explorer_spark.sources import manifest as Mf

    rows = [_rec_row(500, "0", i) for i in range(4)]
    for i, r in enumerate(rows):
        r["reference"] = bytes([0x10 + i])
    df = pq.with_bucket(spark.createDataFrame(rows, schemas.RECORDS))
    df.write.partitionBy("pulse_bucket").mode("overwrite").parquet(
        os.path.join(base, "records")
    )
    assert Mf.current_version(base) == 0
    more = [_rec_row(1500, "1", 0)]
    more[0]["reference"] = bytes([0x99])
    more_df = spark.createDataFrame(more, schemas.RECORDS)
    with pytest.raises(RuntimeError, match="migrate"):
        pq.read_table(spark, base, "records")
    with pytest.raises(RuntimeError, match="migrate"):
        pq.read_records_for_object(spark, base, rows[0]["object_reference"])
    with pytest.raises(RuntimeError, match="migrate"):
        pq.upsert(spark, base, "records", more_df)
    assert Mf.current_version(base) == 0

    assert pq.migrate(base) >= 1
    assert pq.migrate(base) == 0  # idempotent
    assert pq.read_table(spark, base, "records").count() == 4
    pq.upsert(spark, base, "records", more_df)
    out = pq.read_table(spark, base, "records")
    assert out.count() == 5
    # the adopted files are listed, so a delete touches them correctly
    assert pq.delete_where(spark, base, "records", F.col("order") == 1) == 1
    assert pq.read_table(spark, base, "records").count() == 4


def test_warehouse_vacuum_removes_superseded_files(spark, base):
    """After a merge-rewrite upsert, the superseded bucket files stay
    on disk for snapshot readers and are physically removed by
    manifest.vacuum; reads before and after vacuum are identical."""
    import glob
    import os

    from block_explorer_spark.sources import manifest as Mf

    rows = [_rec_row(500, "0", i) for i in range(3)]
    for i, r in enumerate(rows):
        r["reference"] = bytes([0x40 + i])
    pq.upsert(spark, base, "records", spark.createDataFrame(rows, schemas.RECORDS))
    files_v1 = set(glob.glob(os.path.join(base, "records", "**", "*.parquet"),
                             recursive=True))

    updated = [dict(rows[0], payload=b"v2")]
    pq.upsert(spark, base, "records",
              spark.createDataFrame(updated, schemas.RECORDS))
    # superseded files still on disk (snapshot isolation)...
    assert files_v1 <= set(glob.glob(os.path.join(base, "records", "**", "*.parquet"),
                                     recursive=True))
    before = sorted((bytes(r.reference), bytes(r.payload))
                    for r in pq.read_table(spark, base, "records").collect())
    removed = Mf.vacuum(base, min_age_s=0)
    assert removed == len(files_v1)  # the whole superseded bucket set
    after = sorted((bytes(r.reference), bytes(r.payload))
                   for r in pq.read_table(spark, base, "records").collect())
    assert after == before
    assert (bytes([0x40]), b"v2") in after


def test_zone_maps_prune_files_within_bucket(spark, base):
    """Round-6 data skipping: steady-state micro-batches leave one
    file per batch in a hot bucket; a pulse-range read must open only
    the file(s) whose footer [min,max] covers the range — not the
    whole bucket's history. The manifest records the zones at commit
    time (manifest.file_stats) and read_table prunes on them."""
    import os

    from block_explorer_spark.sources import manifest as Mf

    # five disjoint micro-batches, all in pulse_bucket 4000
    for i in range(5):
        batch = gen.make_pulses(start=4_000_000 + 10 * i, count=1)
        pq.save_pulse(spark, base, spark.createDataFrame(batch, schemas.PULSES))

    m = Mf.read(base)
    all_rels = m["families"]["pulses"]
    assert len(all_rels) >= 5  # fast-path appends: one+ file per batch
    # every committed file has a pulse_number zone recorded
    assert all("pulse_number" in m["stats"][r] for r in all_rels)

    # the files commit 3 added (batch pulse 4_000_020) via the CDC diff
    diffs = Mf.added_files(base, "pulses")
    batch3_files = {
        os.path.join(base, r) for r in diffs[2]["added"]["pulses"]
    }

    target = pq.read_table(
        spark, base, "pulses", pulse_gte=4_000_020, pulse_lte=4_000_020
    )
    scanned = {f.removeprefix("file://") for f in target.inputFiles()}
    assert scanned  # non-empty read
    assert scanned <= batch3_files  # zone maps pruned the other batches
    assert target.count() == 1

    # correctness under pruning: a range spanning batches 2-4 sees all
    span = pq.read_table(
        spark, base, "pulses", pulse_gte=4_000_010, pulse_lte=4_000_030
    )
    assert span.count() == 3
    assert len(set(span.inputFiles())) < len(all_rels)


def test_lifeline_read_opens_few_files(spark, base):
    """The records table's answer to the reference's workhorse index
    records(object_reference, type, pulse_number, "order")
    (migrations/migrations.go:54-80): files are (pulse_bucket,
    obj_key)-clustered, the manifest carries per-file obj_key zones,
    and a NO-pulse-bound lifeline read opens ~1 file per bucket —
    not every micro-batch file the table accumulated."""
    from block_explorer_spark.sources import manifest as Mf

    buckets_pulses = [4_000_000, 4_001_000, 4_002_000]
    lifes = [
        gen.make_lifeline(seed=100 + i, pulses=buckets_pulses,
                          records_per_pulse=4)
        for i in range(16)
    ]
    # 8 micro-batches of 2 objects: every batch touches all 3 buckets
    for b in range(8):
        rows = [r for life in lifes[2 * b:2 * b + 2] for r in life.records]
        pq.upsert(spark, base, "records",
                  spark.createDataFrame(rows, schemas.RECORDS))

    target = lifes[5]
    want = sorted(
        r["reference"]
        for r in pq.read_table(spark, base, "records")
        .filter(F.col("object_reference") == target.object_reference)
        .collect()
    )
    assert len(want) == len(target.records)

    # pre-compact: micro-batch files span wide obj_key ranges, so
    # pruning is weak — but the read is CORRECT regardless of layout
    pre = pq.read_records_for_object(spark, base, target.object_reference)
    assert sorted(r["reference"] for r in pre.collect()) == want

    # OPTIMIZE: each bucket folds into 4 disjoint obj_key slices
    pq.compact_table(spark, base, "records", max_files_per_bucket=4)
    m = Mf.read(base)
    total = len(m["families"]["records"])
    assert total >= 9  # 3 buckets x >=3 slices survived
    assert all(pq.OBJ_KEY in m["stats"][r] for r in m["families"]["records"])

    post = pq.read_records_for_object(spark, base, target.object_reference)
    assert sorted(r["reference"] for r in post.collect()) == want
    opened = len(set(post.inputFiles()))
    # ~1 slice per bucket: strictly fewer than a third of the table
    assert opened <= 3, (opened, total)
    assert opened * 3 <= total, (opened, total)

    # pulse-bounded lifeline prunes buckets on top of obj_key slices
    bounded = pq.read_records_for_object(
        spark, base, target.object_reference,
        pulse_gte=4_001_000, pulse_lte=4_001_999,
    )
    assert bounded.count() == 4
    assert len(set(bounded.inputFiles())) <= 1 + 0 * total


def test_upsert_commit_preserves_persistent_meta(spark, base):
    """manifest.commit carries persistent namespaces (zorder/bm25/...)
    forward when a commit's meta doesn't set them — an upsert's
    {"kind": "upsert"} must never destroy a layout another writer
    committed into the same base."""
    from block_explorer_spark.sources import manifest as Mf

    pq.save_pulse(
        spark, base,
        spark.createDataFrame(gen.make_pulses(count=2), schemas.PULSES),
    )
    snap = Mf.read(base)
    Mf.commit(base, snap["families"], snap["version"],
              meta={"kind": "layout", "bm25": {"n": 7, "sum_dl": 70}})
    pq.save_pulse(
        spark, base,
        spark.createDataFrame(
            gen.make_pulses(start=9_000_000, count=1), schemas.PULSES
        ),
    )
    m = Mf.read(base)
    assert m["meta"]["kind"] == "upsert"  # per-commit meta is fresh
    assert m["meta"]["bm25"] == {"n": 7, "sum_dl": 70}  # persistent carried


def test_object_index_makes_lifeline_flat_and_safe(spark, base):
    """The object-index sidecar (records_objidx): a no-pulse-bound
    lifeline read opens ~the object's OWN buckets, not one file per
    bucket of the whole table — the flat-latency property of the
    reference's B-tree. And an ADOPTED legacy warehouse must not
    trust a partial sidecar: until build_object_index runs, reads
    fall back to conservative pruning and still find legacy rows."""
    from block_explorer_spark.sources import manifest as Mf

    # 12 buckets; each object lives in exactly ONE bucket
    for b in range(12):
        life = gen.make_lifeline(
            seed=500 + b, pulses=[4_000_000 + 1000 * b], records_per_pulse=5
        )
        pq.upsert(spark, base, "records",
                  spark.createDataFrame(life.records, schemas.RECORDS))
    m = Mf.read(base)
    assert m["meta"]["layout"]["objidx"] == "full"
    total = len(m["families"]["records"])
    assert total >= 12

    target = gen.make_lifeline(
        seed=500 + 7, pulses=[4_000_000 + 7000], records_per_pulse=5
    )
    out = pq.read_records_for_object(spark, base, target.object_reference)
    assert out.count() == len(target.records)
    # sidecar routed the read to the object's single bucket
    assert len(set(out.inputFiles())) <= 2, out.inputFiles()

    # unknown object: provably absent via the sidecar, zero files read
    ghost = pq.read_records_for_object(spark, base, b"\xde\xad" * 16)
    assert ghost.count() == 0

    # legacy-adoption safety: a store whose records PREDATE the
    # sidecar must not trust the partial index
    import os
    legacy = base + "_legacy"
    rows = target.records
    spark.createDataFrame(rows, schemas.RECORDS).transform(
        pq.with_bucket
    ).write.partitionBy("pulse_bucket").parquet(
        os.path.join(legacy, "records")
    )
    other = gen.make_lifeline(seed=900, pulses=[4_100_000], records_per_pulse=3)
    pq.migrate(legacy)
    pq.upsert(spark, legacy, "records",
              spark.createDataFrame(other.records, schemas.RECORDS))
    m2 = Mf.read(legacy)
    assert m2["meta"].get("layout", {}).get("objidx") != "full"
    # the legacy object is still found (conservative fallback)
    got = pq.read_records_for_object(spark, legacy, target.object_reference)
    assert got.count() == len(target.records)
    # one full build flips the flag and indexes everything
    pq.build_object_index(spark, legacy)
    assert Mf.read(legacy)["meta"]["layout"]["objidx"] == "full"
    got2 = pq.read_records_for_object(spark, legacy, target.object_reference)
    assert got2.count() == len(target.records)
    assert pq.read_records_for_object(
        spark, legacy, other.object_reference
    ).count() == len(other.records)


def test_object_index_maintain_folds_deltas(spark, base):
    """Round-9 skip-or-batch: small upserts DEFER their sidecar delta
    (manifest layout objidx_pending lists the unindexed data files)
    instead of paying the fixed staging job per commit; the first
    commit still indexes inline (it births the full flag). maintain
    folds sidecar + pending into one run and clears pending."""
    from block_explorer_spark.sources import manifest as Mf

    for b in range(10):
        life = gen.make_lifeline(
            seed=700 + b, pulses=[4_000_000 + 100 * b], records_per_pulse=2
        )
        pq.upsert(spark, base, "records",
                  spark.createDataFrame(life.records, schemas.RECORDS))
    m = Mf.read(base)
    assert len(m["families"][pq.OBJIDX]) == 1  # first commit only
    pending = m["meta"]["layout"]["objidx_pending"]
    assert len(pending) == 9  # one deferred data file per later commit
    assert set(pending) <= set(m["families"]["records"])
    # lifeline reads are correct BEFORE any fold (pending files probed)
    life3 = gen.make_lifeline(
        seed=700 + 3, pulses=[4_000_300], records_per_pulse=2
    )
    assert pq.read_records_for_object(
        spark, base, life3.object_reference
    ).count() == len(life3.records)
    assert pq.maintain_object_index(spark, base, min_files=8) is not None
    m2 = Mf.read(base)
    assert len(m2["families"][pq.OBJIDX]) <= 4
    assert "objidx_pending" not in m2["meta"].get("layout", {})
    # answers unchanged through the fold
    assert pq.read_records_for_object(
        spark, base, life3.object_reference
    ).count() == len(life3.records)


def test_objidx_pending_survives_delete_rewrite(spark, base):
    """A delete that rewrites a bucket holding PENDING (unindexed)
    records must keep those records probe-able: the rewrite's output
    files take the pending slot (parquet.py::_remap_pending)."""
    from pyspark.sql import functions as F

    from block_explorer_spark.sources import manifest as Mf

    keep = gen.make_lifeline(seed=810, pulses=[4_000_000], records_per_pulse=3)
    pq.upsert(spark, base, "records",
              spark.createDataFrame(keep.records, schemas.RECORDS))
    late = gen.make_lifeline(seed=811, pulses=[4_000_000], records_per_pulse=3)
    pq.upsert(spark, base, "records",
              spark.createDataFrame(late.records, schemas.RECORDS))
    m = Mf.read(base)
    assert m["meta"]["layout"]["objidx_pending"]  # second commit deferred
    # delete one of the FIRST object's records: rewrites the bucket
    # holding the pending file
    victim = keep.records[0]["reference"]
    n = pq.delete_where(
        spark, base, "records", F.col("reference") == victim
    )
    assert n == 1
    m2 = Mf.read(base)
    pend2 = m2["meta"]["layout"]["objidx_pending"]
    assert pend2 and set(pend2) <= set(m2["families"]["records"])
    # the pending (never-indexed) object still fully reads post-rewrite
    assert pq.read_records_for_object(
        spark, base, late.object_reference
    ).count() == len(late.records)


def test_objidx_inline_above_floor(spark, base, monkeypatch):
    """A batch at/above the inline floor stages its sidecar delta in
    the same commit — no pending growth on bulk loads."""
    from block_explorer_spark.sources import manifest as Mf

    pq.upsert(spark, base, "records", spark.createDataFrame(
        gen.make_lifeline(seed=820, pulses=[4_000_000],
                          records_per_pulse=2).records, schemas.RECORDS))
    monkeypatch.setattr(pq, "OBJIDX_INLINE_ROWS", 3)
    bulk = gen.make_lifeline(seed=821, pulses=[4_000_100], records_per_pulse=5)
    pq.upsert(spark, base, "records",
              spark.createDataFrame(bulk.records, schemas.RECORDS))
    m = Mf.read(base)
    assert len(m["families"][pq.OBJIDX]) == 2  # first commit + inline delta
    assert not m["meta"].get("layout", {}).get("objidx_pending")
    assert pq.read_records_for_object(
        spark, base, bulk.object_reference
    ).count() == len(bulk.records)


def test_record_point_lookup_prunes_with_embedded_pulse(spark, base):
    """get_record at warehouse scale: the reference system's record
    IDs embed the pulse (Record.ID.Pulse()), so a caller that knows
    the layout passes pulse= and the lookup opens one bucket's
    covering file(s); opaque references get a correct full scan."""
    for b in range(6):
        pn = 4_000_000 + 1000 * b
        rows = []
        for i in range(10):
            ref = pn.to_bytes(4, "big") + bytes([b, i]) * 14
            rows.append({
                "reference": ref, "type": "state",
                "object_reference": b"obj" + bytes([b]),
                "prototype_reference": b"p", "payload": b"x",
                "prev_record_reference": None, "hash": ref,
                "raw_data": b"r", "jet_id": "0", "pulse_number": pn,
                "order": i, "timestamp": 1_600_000_000,
            })
        pq.upsert(spark, base, "records",
                  spark.createDataFrame(rows, schemas.RECORDS))
    target_pn = 4_003_000
    target_ref = target_pn.to_bytes(4, "big") + bytes([3, 7]) * 14
    pulse = int.from_bytes(target_ref[:4], "big")
    assert pulse == target_pn
    hit = pq.read_record_by_reference(spark, base, target_ref, pulse=pulse)
    rows = hit.collect()
    assert len(rows) == 1 and rows[0]["order"] == 7
    from block_explorer_spark.sources import manifest as Mf
    total = len(Mf.read(base)["families"]["records"])
    assert total >= 6
    assert len(set(hit.inputFiles())) <= 1  # one bucket's one file
    # opaque path: correct, just unpruned
    full = pq.read_record_by_reference(spark, base, target_ref)
    assert full.count() == 1
    # absent reference with embedded pulse: provably-empty fast path
    ghost = (4_002_000).to_bytes(4, "big") + b"\xff" * 28
    assert pq.read_record_by_reference(
        spark, base, ghost, pulse=4_002_000
    ).count() == 0


def test_vacuum_retires_folded_object_index_files(spark, base):
    """maintain_object_index supersedes the per-commit sidecar delta
    files; vacuum physically removes them once no kept manifest lists
    them — and the pruned lifeline read still serves correctly from
    the merged run afterwards."""
    import os

    from block_explorer_spark.sources import manifest as Mf

    lifes = []
    for b in range(10):
        life = gen.make_lifeline(
            seed=800 + b, pulses=[4_000_000 + 100 * b], records_per_pulse=2
        )
        lifes.append(life)
        pq.upsert(spark, base, "records",
                  spark.createDataFrame(life.records, schemas.RECORDS))
    old_rels = Mf.read(base)["families"][pq.OBJIDX]
    assert pq.maintain_object_index(spark, base, min_files=8) is not None
    removed = Mf.vacuum(base, keep_last=1, min_age_s=0.0)
    assert removed >= len(old_rels)
    for r in old_rels:
        assert not os.path.exists(os.path.join(base, r))
    got = pq.read_records_for_object(
        spark, base, lifes[4].object_reference
    )
    assert got.count() == len(lifes[4].records)
