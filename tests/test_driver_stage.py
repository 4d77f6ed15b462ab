"""r12 driver-side staging path (sources/parquet.py): a micro-batch at
or below placement.ROWS stages through pyarrow on the driver (no
per-table Spark write job) — same files, same layout, same manifest
protocol. These tests pin (a) path equivalence driver vs cluster,
(b) the BatchStats exactness contract (now ENFORCED, not just
documented), (c) zone-prune conservatism for stats-less files, and
(d) the r11 dedupe=True collapse-vs-fork behavior on the ingest edge
(VERDICT r11 "What's wrong" #3)."""

from __future__ import annotations

import os

import pytest

from block_explorer_spark import placement, schemas
from block_explorer_spark.sources import manifest as Mf
from block_explorer_spark.sources import parquet as pq


def _records_rows(pulse: int, n: int, start: int = 0):
    return [
        {
            "reference": (pulse * 1_000_000 + start + i).to_bytes(8, "big"),
            "type": "state",
            "object_reference": (pulse * 10 + (i % 3)).to_bytes(8, "big"),
            "prototype_reference": b"proto",
            "payload": b"p" * 8,
            "prev_record_reference": None,
            "hash": b"h",
            "raw_data": b"r",
            "jet_id": "0",
            "pulse_number": pulse,
            "order": i + 1,
            "timestamp": 1_600_000_000,
        }
        for i in range(n)
    ]


def _pulse_row(pulse: int):
    return {
        "pulse_number": pulse,
        "prev_pulse_number": pulse - 10,
        "next_pulse_number": pulse + 10,
        "is_complete": False,
        "is_sequential": False,
        "timestamp": 1_600_000_000,
        "jet_drop_amount": 0,
        "record_amount": 0,
    }


def _upsert_all(spark, base, pulse, n, start=0):
    recs = spark.createDataFrame(_records_rows(pulse, n, start), schemas.RECORDS)
    pulses = spark.createDataFrame([_pulse_row(pulse)], schemas.PULSES)
    pq.upsert_many(
        spark, base, {"pulses": pulses, "records": recs},
        batch_stats={
            "pulses": pq.BatchStats([pulse], 1),
            "records": pq.BatchStats([pulse], n),
        },
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_driver_and_cluster_paths_produce_identical_tables(spark, tmp_path, monkeypatch):
    """The same upsert sequence (insert, replay, key update) through
    the driver path and through the forced Spark path must read back
    identically — table rows, lifeline reads, and zone-map pruning."""
    bases = {}
    for mode in ("driver", "cluster"):
        if mode == "cluster":
            monkeypatch.setattr(placement, "ROWS", 0)
        base = str(tmp_path / mode)
        _upsert_all(spark, base, 1500, 40)
        _upsert_all(spark, base, 2600, 25)
        # replay: byte-identical batch must be a no-op
        _upsert_all(spark, base, 1500, 40)
        # key update: same references, different payload order column
        recs = spark.createDataFrame(
            _records_rows(1500, 10), schemas.RECORDS
        ).withColumn("jet_id", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("9"))
        pq.upsert_many(
            spark, base, {"records": recs},
            batch_stats={"records": pq.BatchStats([1500], 10)},
        )
        bases[mode] = base

    for table in ("pulses", "records"):
        a = _sorted_rows(pq.read_table(spark, bases["driver"], table))
        b = _sorted_rows(pq.read_table(spark, bases["cluster"], table))
        assert a == b, f"{table} diverges between driver and cluster staging"
    # lifeline (obj_key-pruned) read equivalence
    obj = (15000 + 1).to_bytes(8, "big")
    a = _sorted_rows(pq.read_records_for_object(spark, bases["driver"], obj))
    b = _sorted_rows(pq.read_records_for_object(spark, bases["cluster"], obj))
    assert a == b and len(a) > 0
    # zone maps recorded for driver-staged files too
    m = Mf.read(bases["driver"])
    rels = m["families"]["records"]
    assert all(
        "pulse_number" in m["stats"].get(r, {}) for r in rels
    ), "driver-staged files must carry pulse zone maps"
    # update landed: replaced rows carry the new jet_id
    upd = (
        pq.read_table(spark, bases["driver"], "records")
        .filter("pulse_number = 1500 and jet_id = '9'")
        .count()
    )
    assert upd == 10


def test_understated_batch_stats_refused_before_commit(spark, tmp_path, monkeypatch):
    """BatchStats' pulse set is load-bearing (bucket list = rewrite
    set; bounds = collision zone-prune). An under-approximated set on
    the cluster path must be refused BEFORE the commit publishes."""
    monkeypatch.setattr(placement, "ROWS", 0)  # force cluster path
    base = str(tmp_path / "w")
    batch = spark.createDataFrame(
        _records_rows(1500, 5) + _records_rows(2600, 5), schemas.RECORDS
    )
    pulses = spark.createDataFrame([_pulse_row(1500)], schemas.PULSES)
    with pytest.raises(ValueError, match="BatchStats|declared"):
        pq.upsert_many(
            spark, base, {"pulses": pulses, "records": batch},
            batch_stats={
                "pulses": pq.BatchStats([1500], 1),
                "records": pq.BatchStats([1500], 10),  # missing 2600
            },
        )
    # nothing published, and nothing staged for the refused commit
    # stays behind: neither the refused table's files nor the files the
    # other table staged alongside it
    assert Mf.read(base)["families"] == {}
    assert Mf.unmanifested_files(base, ["pulses", "records", pq.OBJIDX]) == {}


def test_understated_batch_stats_harmless_on_driver_path(spark, tmp_path):
    """The driver path derives buckets/bounds from the collected rows,
    so a wrong hint cannot corrupt it: replaying a batch whose hint
    understates the pulse set still merges idempotently."""
    base = str(tmp_path / "w")
    batch = spark.createDataFrame(
        _records_rows(1500, 5) + _records_rows(2600, 5), schemas.RECORDS
    )
    for _ in range(2):  # second pass is a replay → must not duplicate
        pq.upsert_many(
            spark, base, {"records": batch},
            batch_stats={"records": pq.BatchStats([1500], 10)},
        )
    assert pq.read_table(spark, base, "records").count() == 10


def test_zone_prune_keeps_stats_less_files(spark, tmp_path):
    """prune_by_stats conservatism: a manifest listing a file with NO
    recorded stats must keep it for any range — correctness never
    depends on zone maps (VERDICT r11 #3a)."""
    base = str(tmp_path / "w")
    _upsert_all(spark, base, 1500, 8)
    m = Mf.read(base)
    rels = m["families"]["records"]
    stripped = dict(m)
    stripped["stats"] = {}  # simulate a legacy writer: no zone maps
    survivors = Mf.prune_by_stats(
        stripped, "records", "pulse_number", lo=999_999, hi=999_999, rels=rels
    )
    assert survivors == rels
    # and WITH stats the same range prunes everything
    assert (
        Mf.prune_by_stats(m, "records", "pulse_number", lo=999_999, hi=999_999, rels=rels)
        == []
    )


def test_collision_check_zone_prunes_to_zero_reads(spark, tmp_path):
    """Steady-state all-new-pulse commits must not read existing bucket
    files: a new pulse in an already-touched bucket with disjoint
    pulse bounds stages append-only (old files survive untouched)."""
    base = str(tmp_path / "w")
    _upsert_all(spark, base, 1500, 8)
    before = set(Mf.read(base)["families"]["records"])
    _upsert_all(spark, base, 1501, 8)  # same bucket, new pulse
    after = Mf.read(base)["families"]["records"]
    assert before <= set(after), "append-only fast path must keep old files"
    assert pq.read_table(spark, base, "records").count() == 16


def _raw_row(pulse, ref, kind="activate", prev=None, payload=b"p"):
    return {
        "reference": ref,
        "kind": kind,
        "object_reference": b"obj-1",
        "prototype_reference": b"proto",
        "payload": payload,
        "prev_record_reference": prev,
        "hash": ref,
        "raw_data": b"r",
        "jet_id": "0",
        "pulse_number": pulse,
        "timestamp": 1_600_000_000,
        "position": 0,
        "prev_pulse_number": None,
        "next_pulse_number": None,
    }


def test_dedupe_collapses_decode_equal_replays_but_keeps_forks(spark):
    """transform_pulse_data(dedupe=True) semantics on the ingest edge
    (r11 behavior change, pinned here): raw replays that differ only
    in a DECODE-CLEARED field collapse (the drop survives), while rows
    sharing a reference but differing in a decoded field are a genuine
    fork (the whole drop fails validation)."""
    from block_explorer_spark.plans import transformer as Tr

    r1 = (9_000_000).to_bytes(8, "big")
    # activate: prev_record_reference is decode-cleared; two raws that
    # differ only there are post-decode identical → collapse
    collapse = spark.createDataFrame(
        [
            _raw_row(4_000_100, r1, "activate", prev=None),
            _raw_row(4_000_100, r1, "activate", prev=b"zz"),
        ],
        schemas.RAW_RECORDS,
    )
    out = Tr.transform_pulse_data(collapse, dedupe=True)
    assert out.count() == 1

    # same reference, different PAYLOAD (a decoded field) → fork →
    # chain validation drops the whole (pulse, jet) drop
    fork = spark.createDataFrame(
        [
            _raw_row(4_000_100, r1, "activate", payload=b"a"),
            _raw_row(4_000_100, r1, "activate", payload=b"b"),
        ],
        schemas.RAW_RECORDS,
    )
    out = Tr.transform_pulse_data(fork, dedupe=True)
    assert out.count() == 0
