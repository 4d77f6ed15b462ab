"""Incremental vector store (sources/vector_store.py): founding
train+ingest, replay-idempotent adds, semantic dedup against stored
members, and partition-pruned probes under continuous growth."""

from __future__ import annotations

import os
import random

import pytest

from pyspark.sql import functions as F

from block_explorer_spark.sources import vector_store as vs


def _vecs(rng, n, center, spread=0.05, start_id=0, label=0):
    rows = []
    for i in range(n):
        v = [c + rng.gauss(0, spread) for c in center]
        rows.append((start_id + i, v, label))
    return rows


CENTERS = {
    0: [1.0, 0.0, 0.0, 0.0],
    1: [0.0, 1.0, 0.0, 0.0],
    2: [0.0, 0.0, 1.0, 0.0],
}


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "vstore")


def _founding(spark, base, rng):
    rows = []
    for lab, c in CENTERS.items():
        rows.extend(_vecs(rng, 20, c, start_id=100 * lab, label=lab))
    df = spark.createDataFrame(rows, vs.VECTORS_SCHEMA)
    return vs.create(spark, base, df, n_centroids=3, seed=1)


def test_create_and_replay_idempotent(spark, base):
    rng = random.Random(7)
    stats = _founding(spark, base, rng)
    assert stats["n_added"] == 60 and stats["n_known"] == 0
    # replay the founding batch: everything already known
    rows = []
    rng2 = random.Random(7)
    for lab, c in CENTERS.items():
        rows.extend(_vecs(rng2, 20, c, start_id=100 * lab, label=lab))
    again = vs.add_batch(spark, base, spark.createDataFrame(rows, vs.VECTORS_SCHEMA))
    assert again["n_known"] == 60 and again["n_added"] == 0
    assert vs.read_vectors(spark, base).count() == 60


def test_add_batch_grows_and_probe_finds_neighbors(spark, base):
    rng = random.Random(7)
    _founding(spark, base, rng)
    new = spark.createDataFrame(
        _vecs(rng, 5, CENTERS[1], start_id=900, label=1), vs.VECTORS_SCHEMA
    )
    stats = vs.add_batch(spark, base, new)
    assert stats["n_added"] == 5
    got = vs.probe(spark, base, CENTERS[1], k=10, n_probe=1).collect()
    assert len(got) == 10
    # neighbors of center-1 are the label-1 ids (founding 100s + new 900s)
    assert all(100 <= r["vec_id"] < 200 or r["vec_id"] >= 900 for r in got)


def test_semantic_dedup_against_store(spark, base):
    rng = random.Random(7)
    _founding(spark, base, rng)
    stored = vs.read_vectors(spark, base).filter("vec_id = 100").head()
    dup = [float(x) for x in stored["embedding"]]
    batch = spark.createDataFrame(
        [(700, dup, 1), (800, [0.0, 0.0, 0.0, 1.0], 2)],  # 800: far from all
        vs.VECTORS_SCHEMA,
    )
    stats = vs.add_batch(spark, base, batch, dedup_threshold=0.999)
    assert stats["n_near_dup"] == 1 and stats["n_added"] == 1
    ids = {r["vec_id"] for r in vs.read_vectors(spark, base).collect()}
    assert 800 in ids and 700 not in ids


def test_probe_prunes_partitions(spark, base):
    rng = random.Random(7)
    _founding(spark, base, rng)
    plan = (
        vs.probe(spark, base, CENTERS[0], k=5, n_probe=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    part = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part and "centroid_id" in part[0]


def test_in_batch_near_dup_lowest_id_wins(spark, base):
    rng = random.Random(7)
    _founding(spark, base, rng)
    v = [0.0, 0.0, 0.0, 1.0]  # far from every stored center
    batch = spark.createDataFrame(
        [(51, v, 9), (50, [x for x in v], 9)], vs.VECTORS_SCHEMA
    )
    stats = vs.add_batch(spark, base, batch, dedup_threshold=0.999)
    assert stats["n_near_dup"] == 1
    ids = {r["vec_id"] for r in vs.read_vectors(spark, base).collect()}
    assert 50 in ids and 51 not in ids


def test_streaming_adds_resume_exactly_once(spark, base, tmp_path):
    rng = random.Random(7)
    _founding(spark, base, rng)
    src = str(tmp_path / "embsrc")
    ckpt = str(tmp_path / "embckpt")
    os.makedirs(src)
    w1 = _vecs(rng, 4, CENTERS[0], start_id=500, label=0)
    spark.createDataFrame(w1, vs.VECTORS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    q = vs.start_ingest_stream(spark, src, base, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert vs.read_vectors(spark, base).count() == 64

    # second wave includes a replayed id (500) and one new row
    w2 = [w1[0]] + _vecs(rng, 1, CENTERS[2], start_id=600, label=2)
    spark.createDataFrame(w2, vs.VECTORS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    q = vs.start_ingest_stream(spark, src, base, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    got = vs.read_vectors(spark, base)
    assert got.count() == 65
    assert got.select("vec_id").distinct().count() == 65


def _commit_bypass(spark, base, df):
    """Fabricate out-of-band corruption: stage rows and commit them
    WITHOUT running add_batch's dedup (what a pre-manifest or buggy
    external writer would leave behind)."""
    from block_explorer_spark.sources import manifest as Mf

    rels = Mf.stage_df(
        df.repartition("centroid_id"), base, "vectors", partition_by="centroid_id"
    )
    snap = Mf.read(base)
    fams = dict(snap["families"])
    fams["vectors"] = fams.get("vectors", []) + rels
    Mf.commit(base, fams, expect_version=snap["version"])


def test_canonicalize_repairs_duplicate_ids(spark, base):
    rng = random.Random(7)
    _founding(spark, base, rng)
    # out-of-band writer: an existing vec_id committed again
    dup = vs.read_vectors(spark, base).filter("vec_id = 100").localCheckpoint()
    _commit_bypass(spark, base, dup)
    assert vs.read_vectors(spark, base).count() == 61  # corrupted

    assert vs.canonicalize(spark, base) == 1
    got = vs.read_vectors(spark, base)
    assert got.count() == 60
    assert got.select("vec_id").distinct().count() == 60
    assert vs.canonicalize(spark, base) == 0  # clean no-op


def test_create_refuses_refound(spark, base):
    rng = random.Random(7)
    _founding(spark, base, rng)
    again = spark.createDataFrame(_vecs(random.Random(9), 5, CENTERS[0],
                                        start_id=900), vs.VECTORS_SCHEMA)
    with pytest.raises(FileExistsError):
        vs.create(spark, base, again, n_centroids=3, seed=2)
    # centroids untouched, add_batch still the supported path
    assert len(vs.load_centroids(base)) == 3
    assert vs.add_batch(spark, base, again)["n_added"] == 5


def test_canonicalize_removes_fully_emptied_cell(spark, base):
    """A duplicate vec_id committed out-of-band with a DIFFERENT
    embedding lands in another cell; if that cell holds only duplicate
    losers it must vanish from the live set entirely (ADVICE r4 — the
    manifest commit just stops listing it), and vacuum removes its
    files from disk."""
    from block_explorer_spark.sources import manifest as Mf

    rng = random.Random(7)
    _founding(spark, base, rng)
    store = vs.read_vectors(spark, base)
    cells = sorted(r.centroid_id for r in
                   store.select("centroid_id").distinct().collect())
    # fabricate a loser-only cell: ids that live in cells[0],
    # committed again under a brand-new cell id
    victims = store.filter(F.col("centroid_id") == cells[0]).limit(3) \
                   .localCheckpoint()
    fake_cell = max(cells) + 100
    _commit_bypass(
        spark, base, victims.withColumn("centroid_id", F.lit(fake_cell))
    )
    assert vs.canonicalize(spark, base) == 3
    # survivor is the min-centroid copy; the loser-only cell is gone
    got = vs.read_vectors(spark, base)
    assert got.count() == 60
    assert got.filter(F.col("centroid_id") == fake_cell).count() == 0
    Mf.vacuum(base, min_age_s=0)
    assert not os.path.exists(
        os.path.join(base, "vectors", f"centroid_id={fake_cell}"))


def test_rekey_guard_rejects_out_of_range_ids(spark, base):
    rng = random.Random(7)
    _founding(spark, base, rng)
    bad = spark.createDataFrame(
        [((1 << 62) + 5, [1.0, 0.0, 0.0, 0.0], 0)], vs.VECTORS_SCHEMA)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        vs.add_batch(spark, base, bad, dedup_threshold=0.95)


def test_concurrent_adds_never_duplicate(spark, base):
    """Round-5 guarantee, embedding side: two writers adding
    overlapping vec_ids concurrently serialize through the manifest
    CAS — each id lands exactly once, no canonicalize needed."""
    import threading

    rng = random.Random(7)
    _founding(spark, base, rng)
    shared = _vecs(random.Random(21), 5, CENTERS[1], start_id=500, label=1)
    batches = [
        shared + _vecs(random.Random(22), 3, CENTERS[0], start_id=600, label=0),
        shared + _vecs(random.Random(23), 3, CENTERS[2], start_id=700, label=2),
    ]
    results: dict[int, dict] = {}
    errors: list[Exception] = []

    def run(idx):
        try:
            results[idx] = vs.add_batch(
                spark, base, spark.createDataFrame(batches[idx], vs.VECTORS_SCHEMA))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [__import__("threading").Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    got = vs.read_vectors(spark, base)
    assert got.count() == 60 + 5 + 3 + 3
    assert got.select("vec_id").distinct().count() == 71
    assert sum(r["n_added"] for r in results.values()) == 11
    assert vs.canonicalize(spark, base) == 0


def test_pre_manifest_vector_store_raises_until_migrated(spark, base):
    """round-5 ADVICE twin of the corpus-store case: data files without
    a manifest raise loudly on read and on add; migrate() adopts them
    once."""
    import shutil

    rng = random.Random(7)
    _founding(spark, base, rng)
    want = {r.vec_id for r in vs.read_vectors(spark, base).collect()}
    # simulate a pre-manifest store: keep the data files, drop the log
    shutil.rmtree(os.path.join(base, "_manifest"))
    with pytest.raises(RuntimeError, match="migrate"):
        vs.read_vectors(spark, base).count()
    extra = _vecs(rng, 3, CENTERS[0], start_id=900)
    with pytest.raises(RuntimeError, match="migrate"):
        vs.add_batch(spark, base, spark.createDataFrame(extra, vs.VECTORS_SCHEMA))
    assert vs.migrate(base) >= 1
    got = {r.vec_id for r in vs.read_vectors(spark, base).collect()}
    assert got == want
    assert vs.migrate(base) == 0


def test_calibrate_and_recall_targeted_probe(spark, base):
    """Round-6 item 4: calibrate() persists this store's measured
    recall→n_probe curve; probe(target_recall=...) picks the smallest
    measured n_probe reaching the target, or probes every cell (exact)
    when none does."""
    import json

    rng = random.Random(3)
    _founding(spark, base, rng)  # 3 tight clusters, 3 centroids

    curve = vs.calibrate(spark, base, n_queries=6, k=5)
    assert curve["n_centroids"] == 3 and curve["n_vecs"] == 60
    # persisted beside centroids
    with open(vs._curve_path(base)) as f:
        assert json.load(f)["measured"] == curve["measured"]
    # monotone non-decreasing in n_probe; probing ~all cells is exact
    ps = sorted(curve["measured"], key=int)
    vals = [curve["measured"][p] for p in ps]
    assert vals == sorted(vals)
    assert vals[-1] <= 1.0

    # --- selection rule pinned on a fabricated curve
    with open(vs._curve_path(base), "w") as f:
        json.dump({"k": 10, "n_queries": 16, "n_vecs": 60,
                   "n_centroids": 3,
                   "measured": {"1": 0.35, "2": 0.8, "4": 0.95}}, f)
    assert vs.select_n_probe(base, 0.5) == 2    # smallest reaching 0.5
    assert vs.select_n_probe(base, 0.9) == 4
    assert vs.select_n_probe(base, 0.99) is None  # exact tier

    # probe honors the rule end-to-end: unreachable target = exact scan
    q = CENTERS[1]
    exact = {r[0] for r in vs.probe(spark, base, q, k=5, n_probe=3).collect()}
    got = {
        r[0]
        for r in vs.probe(spark, base, q, k=5, target_recall=0.99).collect()
    }
    assert got == exact


def test_probe_target_recall_requires_calibration(spark, base):
    rng = random.Random(5)
    _founding(spark, base, rng)
    with pytest.raises(FileNotFoundError, match="calibrate"):
        vs.probe(spark, base, CENTERS[0], target_recall=0.9)


def test_probe_warns_when_calibration_stale(spark, base):
    """A calibrated curve measured at N vectors goes stale as the
    store grows: probe(target_recall=...) must warn (not fail) once
    the store is well past the calibration size."""
    import json
    import warnings

    rng = random.Random(11)
    _founding(spark, base, rng)
    # fabricate a curve calibrated at a much smaller store
    with open(vs._curve_path(base), "w") as f:
        json.dump({"k": 10, "n_queries": 4, "n_vecs": 10,
                   "n_centroids": 3, "measured": {"2": 0.95}}, f)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        vs.probe(spark, base, CENTERS[0], target_recall=0.9).collect()
    assert any("re-run vector_store.calibrate" in str(x.message) for x in w)


def test_changes_feed_append_only_with_versions(spark, base):
    """Round-6 CDC on the vector store: per-commit added vectors with
    the commit version stamped on; a consumer checkpointed at v1 sees
    only the second batch."""
    from block_explorer_spark.sources import manifest as Mf

    rng = random.Random(7)
    b1 = _vecs(rng, 6, CENTERS[0], start_id=0)
    b2 = _vecs(rng, 3, CENTERS[1], start_id=6, label=1)
    vs.create(spark, base, spark.createDataFrame(b1, vs.VECTORS_SCHEMA),
              n_centroids=2)
    v1 = Mf.current_version(base)
    vs.add_batch(spark, base, spark.createDataFrame(b2, vs.VECTORS_SCHEMA))

    feed = vs.changes_since(spark, base, 0).collect()
    assert {r["vec_id"] for r in feed} == set(range(9))
    vers = {r["vec_id"]: r["version"] for r in feed}
    assert all(vers[i] == v1 for i in range(6))
    assert all(vers[i] == v1 + 1 for i in range(6, 9))
    tail = vs.changes_since(spark, base, v1).collect()
    assert {r["vec_id"] for r in tail} == {6, 7, 8}
    assert vs.changes_since(spark, base, Mf.current_version(base)).count() == 0


def test_filtered_probe_prefilter_exact(spark, base):
    """probe(where=...) is the PRE-filter: exact top-k among matching
    vectors of the probed cells — equal to brute force over the
    filtered store when every cell is probed, and never the
    under-filled post-filter result."""
    from pyspark.sql import functions as F

    from block_explorer_spark.operators import similarity as sim

    rng = random.Random(11)
    _founding(spark, base, rng)
    q = CENTERS[0]
    got = vs.probe(
        spark, base, q, k=5, n_probe=3, where=F.col("label") == 2
    ).collect()
    want = sim.brute_force_topk(
        vs.read_vectors(spark, base).filter(F.col("label") == 2),
        "embedding", q, k=5,
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in want
    ]
    # every returned row matches the predicate (k filled from the
    # filtered population, not filtered from an unfiltered top-k)
    ids = {r["vec_id"] for r in got}
    labs = {
        r["vec_id"]: r["label"]
        for r in vs.read_vectors(spark, base).collect()
    }
    assert all(labs[i] == 2 for i in ids) and len(got) == 5


def test_filtered_probe_pushes_predicate_to_scan(spark, base):
    from pyspark.sql import functions as F

    rng = random.Random(12)
    _founding(spark, base, rng)
    df = vs.probe(
        spark, base, CENTERS[1], k=3, n_probe=1, where=F.col("label") == 1
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "label" in plan.split(
        "PushedFilters:"
    )[1][:80], plan


def test_filtered_probe_pq_tier_refused(spark, base):
    from pyspark.sql import functions as F

    rng = random.Random(13)
    _founding(spark, base, rng)
    with pytest.raises(ValueError, match="metadata"):
        vs.probe(
            spark, base, CENTERS[0], k=3, tier="pq",
            where=F.col("label") == 1,
        )


class TestDeleteIds:
    """RTBF for the vector store: physical file-zone-pruned rewrite,
    both tiers clean after the commit, removal channel for mirrors."""

    def _founded(self, spark, base):
        rng = random.Random(3)
        _founding(spark, base, rng)
        return rng

    def test_both_tiers_exclude_deleted(self, spark, base):
        self._founded(spark, base)
        vs.build_pq(spark, base, m=4, k=8)
        q = CENTERS[0]
        pre = {r["vec_id"] for r in vs.probe(spark, base, q, k=60, n_probe=3).collect()}
        assert {0, 1, 100} <= pre
        assert vs.delete_ids(spark, base, [0, 100, 9999]) == 2
        post = {r["vec_id"] for r in vs.probe(spark, base, q, k=60, n_probe=3).collect()}
        assert post == pre - {0, 100}
        pq = {
            r["vec_id"]
            for r in vs.probe(spark, base, q, k=60, n_probe=3, tier="pq").collect()
        }
        assert not ({0, 100} & pq) and len(pq) == 58

    def test_rewrite_touches_only_covering_files(self, spark, base):
        from block_explorer_spark.sources import manifest as M

        self._founded(spark, base)
        before = set(M.read(base)["families"]["vectors"])
        assert vs.delete_ids(spark, base, [5]) == 1
        after = set(M.read(base)["families"]["vectors"])
        # most files survive untouched: only the zone-covering ones swap
        assert before & after, "every file was rewritten"
        assert after != before

    def test_channels_and_idempotence(self, spark, base):
        self._founded(spark, base)
        assert vs.delete_ids(spark, base, [3, 104]) == 2
        assert vs.delete_ids(spark, base, [3]) == 0  # already gone
        ds = sorted(r["vec_id"] for r in vs.deletes_since(spark, base, 0).collect())
        assert ds == [3, 104]
        # insert feed never re-emits the survivor rewrites
        assert vs.changes_since(spark, base, 0).count() == 60

    def test_refresh_pq_skips_ids_deleted_in_window(self, spark, base):
        rng = self._founded(spark, base)
        vs.build_pq(spark, base, m=4, k=8)
        more = spark.createDataFrame(
            _vecs(rng, 5, CENTERS[1], start_id=500, label=1), vs.VECTORS_SCHEMA
        )
        vs.add_batch(spark, base, more)
        assert vs.delete_ids(spark, base, [500]) == 1
        assert vs.refresh_pq(spark, base) == 4  # 5 adds − 1 deleted
        pq = {
            r["vec_id"]
            for r in vs.probe(
                spark, base, CENTERS[1], k=100, n_probe=3, tier="pq"
            ).collect()
        }
        assert 501 in pq and 500 not in pq


def test_add_keeps_the_other_families_listed(spark, base):
    """An add publishes the complete family set: the PQ codes and the
    delete log committed before it stay listed beside the new
    vectors."""
    from block_explorer_spark.sources import manifest as M

    rng = random.Random(4)
    _founding(spark, base, rng)
    vs.build_pq(spark, base, m=4, k=8)
    assert vs.delete_ids(spark, base, [1]) == 1
    before = M.read(base)["families"]
    more = spark.createDataFrame(
        _vecs(rng, 5, CENTERS[2], start_id=700, label=2), vs.VECTORS_SCHEMA
    )
    assert vs.add_batch(spark, base, more)["n_added"] == 5
    after = M.read(base)["families"]
    assert after["pq_codes"] == before["pq_codes"]
    assert after[vs.VEC_CDC] == before[vs.VEC_CDC]
    assert set(before["vectors"]) < set(after["vectors"])


class TestProbeMany:
    def test_sweep_equals_per_query_probe_bit_for_bit(self, spark, base):
        rng = random.Random(5)
        _founding(spark, base, rng)
        qs = {"a": CENTERS[0], "b": CENTERS[2], "c": [0.5, 0.5, 0.0, 0.0]}
        many = {}
        for r in vs.probe_many(spark, base, qs, k=7, n_probe=2).collect():
            many.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
        for qid, vec in qs.items():
            single = [
                (r["vec_id"], r["cosine"])
                for r in vs.probe(spark, base, vec, k=7, n_probe=2).collect()
            ]
            assert many[qid] == single and single, qid

    def test_rejects_empty_and_prunes_cells(self, spark, base):
        import pytest as _pt

        rng = random.Random(5)
        _founding(spark, base, rng)
        with _pt.raises(ValueError):
            vs.probe_many(spark, base, {})
        # one-cell probes for two queries in the same region: the
        # union of cells is a strict subset of all cells
        qs = {"a": CENTERS[0], "b": CENTERS[0]}
        out = vs.probe_many(spark, base, qs, k=3, n_probe=1)
        got = {r["query_id"] for r in out.collect()}
        assert got == {"a", "b"}
