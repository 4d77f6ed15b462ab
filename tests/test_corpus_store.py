"""Incremental curated-corpus store: gates, in-batch + cross-batch
dedup, replay idempotency, and the bucket-pruned dedup read
(sources/corpus_store.py). The batch operators it composes are each
oracle-certified (q20/q23/q76/q86); these tests pin the STORE
semantics — what lands on disk across rounds and crashes."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from block_explorer_spark.sources import corpus_store as cs

LONG = " ".join(f"tok{i}" for i in range(30))  # passes both gates


def _doc(doc_id, text, lang="en", source="web"):
    return (doc_id, text, lang, source)


COLS = ["doc_id", "text", "lang", "source"]


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "corpus_base")


def test_gates_and_in_batch_dedup(spark, base):
    rows = [
        _doc(1, LONG),
        _doc(2, "too short"),                      # token floor
        _doc(3, "spam " * 40),                     # repeated-word ceiling
        _doc(4, LONG),                             # same fp as 1 -> in-batch dup
        _doc(5, LONG + " extra"),                  # distinct fp
    ]
    stats = cs.ingest(spark, base, spark.createDataFrame(rows, COLS))
    assert stats == {
        "n_in": 5, "n_gated": 2, "n_batch_dup": 1, "n_known": 0,
        "n_near_dup": 0, "n_added": 2,
    }
    got = {r["doc_id"] for r in cs.read_corpus(spark, base).collect()}
    assert got == {1, 5}  # min doc_id wins the fp group


def test_cross_batch_dedup_and_replay(spark, base):
    b1 = [_doc(1, LONG), _doc(2, LONG + " extra")]
    b2 = [_doc(10, LONG), _doc(11, LONG + " brand new words here")]
    cs.ingest(spark, base, spark.createDataFrame(b1, COLS))
    stats = cs.ingest(spark, base, spark.createDataFrame(b2, COLS))
    # doc 10 duplicates batch-1's doc 1 by content -> known, skipped
    assert stats["n_known"] == 1 and stats["n_added"] == 1
    ids = {r["doc_id"] for r in cs.read_corpus(spark, base).collect()}
    assert ids == {1, 2, 11}

    # full replay of either batch adds nothing (crash-recovery replay)
    again = cs.ingest(spark, base, spark.createDataFrame(b1, COLS))
    assert again["n_added"] == 0 and again["n_known"] == 2
    assert cs.read_corpus(spark, base).count() == 3


def test_ingest_crash_before_commit_is_invisible_and_replay_converges(spark, base):
    """Mid-ingest crash under the manifest protocol: files staged into
    the data directory WITHOUT a committed manifest are invisible —
    there is no partial state to read. Replaying the batch lands all
    rows; vacuum removes the orphaned staged files."""
    from block_explorer_spark.sources import manifest as Mf

    b = [_doc(i, LONG + f" unique{i}") for i in range(6)]
    # "crash": stage the write but never commit (what a process death
    # between stage_move and commit leaves behind)
    prepared = cs._prepared(spark.createDataFrame(b, COLS))
    orphans = Mf.stage_df(prepared, base, "corpus", partition_by="fp_bucket")
    # ...plus one committed version so the store exists at all
    cs.ingest(spark, base, spark.createDataFrame(b[:2], COLS))
    assert len(orphans) >= 1
    assert cs.read_corpus(spark, base).count() == 2  # orphans invisible

    stats = cs.ingest(spark, base, spark.createDataFrame(b, COLS))
    assert stats["n_added"] == 4 and stats["n_known"] == 2
    got = cs.read_corpus(spark, base)
    assert got.count() == 6
    assert got.select("fp").distinct().count() == 6
    # physical orphan files exist until vacuumed
    n_files_before = len(
        glob.glob(os.path.join(base, "corpus", "fp_bucket=*", "*.parquet"))
    )
    removed = Mf.vacuum(base, min_age_s=0)
    assert removed == len(orphans)
    n_files_after = len(
        glob.glob(os.path.join(base, "corpus", "fp_bucket=*", "*.parquet"))
    )
    assert n_files_after == n_files_before - removed
    assert cs.read_corpus(spark, base).count() == 6  # vacuum is invisible too


def test_dedup_read_prunes_buckets(spark, base):
    """The cross-batch dedup must read only the fp_buckets the batch
    hashes into — directory-level PartitionFilters, the contract that
    bounds ingest I/O at corpus scale."""
    cs.ingest(spark, base, spark.createDataFrame(
        [_doc(i, LONG + f" w{i}") for i in range(20)], COLS))
    batch = cs._prepared(spark.createDataFrame([_doc(100, LONG + " w1")], COLS))
    buckets = [r.fp_bucket for r in batch.select("fp_bucket").distinct().collect()]
    from pyspark.sql import types as T

    full = T.StructType(
        list(cs.CORPUS_SCHEMA.fields) + [T.StructField("fp_bucket", T.LongType())]
    )
    pruned = (
        spark.read.schema(full).parquet(os.path.join(base, "corpus"))
        .filter(F.col("fp_bucket").isin(buckets))
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_lines and "fp_bucket" in part_lines[0]


def test_empty_store_and_empty_batch(spark, base):
    assert cs.read_corpus(spark, base).count() == 0
    stats = cs.ingest(spark, base, spark.createDataFrame([], cs.CORPUS_SCHEMA)
                      .select(*COLS))
    assert stats["n_added"] == 0
    assert cs.read_corpus(spark, base).count() == 0


def test_streaming_ingest_resume_exactly_once(spark, base, tmp_path):
    """Streamed crawl files curate into the store; a second
    availableNow run from the same checkpoint picks up only NEW files,
    and content stays exactly-once across both runs."""
    src = str(tmp_path / "crawl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    b1 = [_doc(i, LONG + f" u{i}") for i in range(4)]
    spark.createDataFrame(b1, COLS).coalesce(1).write.mode("append").parquet(src)
    q = cs.start_ingest_stream(spark, src, base, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert cs.read_corpus(spark, base).count() == 4

    # second wave: one genuinely new doc + one content-dup of wave 1
    b2 = [_doc(10, LONG + " u1"), _doc(11, LONG + " fresh content")]
    spark.createDataFrame(b2, COLS).coalesce(1).write.mode("append").parquet(src)
    q = cs.start_ingest_stream(spark, src, base, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)

    got = cs.read_corpus(spark, base)
    assert got.count() == 5  # dup content skipped, nothing re-ingested
    assert got.select("fp").distinct().count() == 5


def _mutate(text, i, word):
    toks = text.split()
    toks[i] = word
    return " ".join(toks)


def test_near_dup_against_store_dropped(spark, base):
    """A second-wave doc that near-duplicates a STORED doc (different
    fingerprint, high 3-gram jaccard) is caught by the band sidecar
    and verified-dropped; an unrelated doc passes."""
    cs.ingest(spark, base, spark.createDataFrame([_doc(1, LONG)], COLS),
              near_dup_threshold=0.7)
    b2 = [
        _doc(10, _mutate(LONG, 5, "changed")),       # near-dup of doc 1
        _doc(11, " ".join(f"other{i}" for i in range(30))),  # unrelated
    ]
    stats = cs.ingest(spark, base, spark.createDataFrame(b2, COLS),
                      near_dup_threshold=0.7)
    assert stats["n_near_dup"] == 1 and stats["n_added"] == 1
    assert {r["doc_id"] for r in cs.read_corpus(spark, base).collect()} == {1, 11}


def test_near_dup_within_batch_lowest_id_wins(spark, base):
    b = [
        _doc(5, LONG),
        _doc(3, _mutate(LONG, 2, "zzz")),  # near-dup pair; 3 < 5
        _doc(9, " ".join(f"w{i}" for i in range(30))),
    ]
    stats = cs.ingest(spark, base, spark.createDataFrame(b, COLS),
                      near_dup_threshold=0.7)
    assert stats["n_near_dup"] == 1
    assert {r["doc_id"] for r in cs.read_corpus(spark, base).collect()} == {3, 9}


def test_near_dup_off_admits_mutations(spark, base):
    cs.ingest(spark, base, spark.createDataFrame([_doc(1, LONG)], COLS))
    stats = cs.ingest(
        spark, base,
        spark.createDataFrame([_doc(10, _mutate(LONG, 5, "changed"))], COLS),
    )
    assert stats["n_added"] == 1  # exact-dedup only: different fp passes


def test_band_sidecar_commits_atomically_with_docs(spark, base):
    """Docs and the LSH sidecar publish in ONE manifest: the round-4
    crash window (docs landed, bands missing -> near-dups invisible)
    cannot occur. A pre-commit crash leaves NEITHER; a committed
    ingest always has both, and near-dup probes against it work."""
    from block_explorer_spark.sources import manifest as Mf

    b1 = [_doc(1, LONG)]
    # simulated crash: a registered writer (ingest runs under
    # write_intent) stages docs AND bands, dies before commit ->
    # neither visible. The still-live intent marker is what tells the
    # round-6 unmigrated-store guard this is a crash, not legacy data.
    Mf.begin_write(base)  # crashed writer never reaches end_write
    prepared = cs._prepared(spark.createDataFrame(b1, COLS))
    Mf.stage_df(prepared, base, "corpus", partition_by="fp_bucket")
    Mf.stage_df(cs._doc_bands(prepared), base, "bands")
    assert cs.read_corpus(spark, base).count() == 0
    assert cs.read_bands(spark, base).count() == 0

    # the real ingest commits both at once
    stats = cs.ingest(spark, base, spark.createDataFrame(b1, COLS),
                      near_dup_threshold=0.7)
    assert stats["n_added"] == 1
    assert cs.read_corpus(spark, base).count() == 1
    assert cs.read_bands(spark, base).count() == cs.LSH_BANDS
    assert Mf.read(base)["version"] == 1  # one atomic commit

    stats = cs.ingest(
        spark, base,
        spark.createDataFrame([_doc(10, _mutate(LONG, 5, "changed"))], COLS),
        near_dup_threshold=0.7,
    )
    assert stats["n_near_dup"] == 1 and stats["n_added"] == 0


def test_delete_where_removes_and_counts(spark, base):
    rows = [_doc(1, LONG, source="keepme"), _doc(2, LONG + " extra", source="dropme"),
            _doc(3, LONG + " more words", source="dropme")]
    cs.ingest(spark, base, spark.createDataFrame(rows, COLS))
    n = cs.delete_where(spark, base, F.col("source") == "dropme")
    assert n == 2
    got = {r["doc_id"] for r in cs.read_corpus(spark, base).collect()}
    assert got == {1}
    # idempotent: nothing left to match
    assert cs.delete_where(spark, base, F.col("source") == "dropme") == 0


def test_delete_where_null_predicate_keeps_rows(spark, base):
    """Three-valued logic: rows where the predicate is NULL are kept
    (coalesce(p, False)) — the silent-data-loss pattern from the
    round-3 advisory on parquet.delete_where."""
    rows = [_doc(1, LONG), _doc(2, LONG + " extra")]
    df = spark.createDataFrame(rows, COLS).withColumn(
        "lang", F.when(F.col("doc_id") == 2, F.lit(None)).otherwise(F.col("lang"))
    )
    cs.ingest(spark, base, df)
    # predicate 'lang = de' is NULL for doc 2 -> doc 2 must survive
    n = cs.delete_where(spark, base, F.col("lang") == "de")
    assert n == 0
    assert cs.read_corpus(spark, base).count() == 2


def test_delete_forgets_near_dup_index(spark, base):
    """RTBF correctness: after deleting a doc, a RESUBMITTED near-dup
    of its content must be ADMITTED — the band sidecar must not keep
    ghost rows that silently re-censor future submissions."""
    cs.ingest(spark, base, spark.createDataFrame([_doc(1, LONG)], COLS),
              near_dup_threshold=0.7)
    n = cs.delete_where(spark, base, F.col("doc_id") == 1)
    assert n == 1
    assert cs.read_bands(spark, base).count() == 0  # index forgot too

    stats = cs.ingest(
        spark, base,
        spark.createDataFrame([_doc(10, _mutate(LONG, 5, "changed"))], COLS),
        near_dup_threshold=0.7,
    )
    assert stats["n_near_dup"] == 0 and stats["n_added"] == 1
    assert {r["doc_id"] for r in cs.read_corpus(spark, base).collect()} == {10}


@pytest.mark.slow
def test_ingest_converges_under_any_batching(spark, tmp_path):
    """Invariant: HOWEVER a document set is partitioned into ingest
    batches (including replays), the final store content is the same
    canonical set — the property that makes the store safe to feed
    from any mix of backfills, retries, and parallel crawls."""
    import random as _r

    docs = [_doc(i, LONG + f" u{i // 2}") for i in range(12)]  # 6 dup pairs
    canonical = None
    for seed in (0, 1, 2):
        rng = _r.Random(seed)
        shuffled = docs[:]
        rng.shuffle(shuffled)
        base = str(tmp_path / f"b{seed}")
        i = 0
        while i < len(shuffled):
            step = rng.randint(1, 5)
            batch = shuffled[i : i + step]
            i += step
            cs.ingest(spark, base, spark.createDataFrame(batch, COLS))
            if rng.random() < 0.4:  # random replay of the same batch
                cs.ingest(spark, base, spark.createDataFrame(batch, COLS))
        got = {r["fp"] for r in cs.read_corpus(spark, base).collect()}
        assert len(got) == 6  # one survivor per content group
        if canonical is None:
            canonical = got
        assert got == canonical  # same CONTENT set regardless of batching


def test_canonicalize_repairs_out_of_band_duplicates(spark, base):
    """Racing ingests serialize through the manifest CAS now, but the
    sweep stays as defense-in-depth (stores corrupted out-of-band or
    migrated from pre-manifest writers). Fabricate a duplicate-fp
    state by committing a manifest that lists a bypass write, then
    verify the sweep restores one-doc-per-fp (min doc_id survives)
    and forgets the losers' band rows."""
    from block_explorer_spark.sources import manifest as Mf

    cs.ingest(spark, base, spark.createDataFrame([_doc(1, LONG)], COLS),
              near_dup_threshold=0.7)
    # out-of-band writer: stages the same content under a new doc_id
    # and commits it WITHOUT running dedup
    dup = cs._prepared(spark.createDataFrame([_doc(9, LONG)], COLS))
    new_docs = Mf.stage_df(dup, base, "corpus", partition_by="fp_bucket")
    new_bands = Mf.stage_df(
        cs._doc_bands(dup), base, "bands", partition_by="bh_bucket"
    )
    snap = Mf.read(base)
    fams = dict(snap["families"])
    fams["docs"] = fams["docs"] + new_docs
    fams["bands"] = fams["bands"] + new_bands
    Mf.commit(base, fams, expect_version=snap["version"])
    assert cs.read_corpus(spark, base).count() == 2  # corrupted state

    n = cs.canonicalize(spark, base)
    assert n == 1
    rows = cs.read_corpus(spark, base).collect()
    assert [r["doc_id"] for r in rows] == [1]  # min doc_id survived
    assert {r["doc_id"] for r in cs.read_bands(spark, base).collect()} == {1}
    assert cs.canonicalize(spark, base) == 0  # idempotent / clean no-op


def test_concurrent_ingests_never_duplicate(spark, base):
    """THE round-5 guarantee: two writers ingesting overlapping
    content CONCURRENTLY cannot both land the same fingerprint — the
    manifest CAS serializes them and the loser re-validates. No
    canonicalize needed afterwards."""
    import threading

    shared = [_doc(100 + i, LONG + f" shared{i}") for i in range(4)]
    batches = [
        shared + [_doc(200 + i, LONG + f" only-a{i}") for i in range(3)],
        shared + [_doc(300 + i, LONG + f" only-b{i}") for i in range(3)],
    ]
    results: dict[int, dict] = {}
    errors: list[Exception] = []

    def run(idx: int) -> None:
        try:
            results[idx] = cs.ingest(
                spark, base, spark.createDataFrame(batches[idx], COLS)
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    got = cs.read_corpus(spark, base)
    # 4 shared docs land exactly once + 3 unique per writer
    assert got.count() == 10
    assert got.select("fp").distinct().count() == 10
    # the loser re-validated: total adds = 10, not 14
    assert sum(r["n_added"] for r in results.values()) == 10
    assert cs.canonicalize(spark, base) == 0  # clean WITHOUT the sweep


def test_ingest_conflict_forces_revalidation(spark, base, monkeypatch):
    """Deterministic loser path (the thread race above may serialize
    by luck): the first commit attempt of writer B is preceded by a
    competing ingest landing the SAME content, so B's CAS fails and
    its retry must re-classify those docs as known."""
    from block_explorer_spark.sources import manifest as Mf

    shared = [_doc(50 + i, LONG + f" race{i}") for i in range(3)]
    original_commit = Mf.commit
    fired = {"done": False}

    def sabotaged_commit(b, families, expect_version, meta=None, **kw):
        if not fired["done"]:
            fired["done"] = True
            # competing writer wins the version B expected (same
            # content, different doc ids)
            monkeypatch.setattr(cs.Mf, "commit", original_commit)
            cs.ingest(spark, base, spark.createDataFrame(
                [_doc(900 + i, t) for i, (_d, t, _l, _s) in enumerate(shared)],
                COLS))
            monkeypatch.setattr(cs.Mf, "commit", sabotaged_commit)
        return original_commit(b, families, expect_version, meta, **kw)

    monkeypatch.setattr(cs.Mf, "commit", sabotaged_commit)
    stats = cs.ingest(spark, base, spark.createDataFrame(shared, COLS))
    monkeypatch.setattr(cs.Mf, "commit", original_commit)
    # B's first validation saw an empty store; after the forced
    # conflict its retry found all 3 fingerprints already present
    assert stats["n_added"] == 0 and stats["n_known"] == 3
    got = cs.read_corpus(spark, base)
    assert got.count() == 3
    assert got.select("fp").distinct().count() == 3
    # B's discarded staged files are unreferenced -> vacuum removes them
    assert Mf.vacuum(base, min_age_s=0) >= 0
    assert cs.read_corpus(spark, base).count() == 3


@pytest.mark.slow
def test_compact_shrinks_files_preserves_data(spark, base):
    from block_explorer_spark.sources import manifest as Mf

    # 3 rounds x 40 distinct docs: most buckets receive one file PER
    # ROUND, so the store is genuinely fragmented (>1 file/bucket)
    for r in range(3):
        batch = [
            _doc(100 * r + i,
                 " ".join(f"r{r}d{i}t{j}" for j in range(30)))
            for i in range(40)
        ]
        cs.ingest(spark, base, spark.createDataFrame(batch, COLS),
                  near_dup_threshold=0.7)
    before = Mf.read(base)
    want = {(r["doc_id"], r["fp"]) for r in cs.read_corpus(spark, base).collect()}
    n_bands = cs.read_bands(spark, base).count()
    retired = cs.compact(spark, base)
    assert retired == len(before["families"]["docs"]) + len(before["families"]["bands"])
    after = Mf.read(base)
    assert after["version"] == before["version"] + 1
    assert len(after["families"]["docs"]) < len(before["families"]["docs"])
    got = {(r["doc_id"], r["fp"]) for r in cs.read_corpus(spark, base).collect()}
    assert got == want
    assert cs.read_bands(spark, base).count() == n_bands
    # old snapshot still readable until vacuum
    assert cs.read_corpus(spark, base, before).count() == len(want)
    Mf.vacuum(base, min_age_s=0)
    assert cs.read_corpus(spark, base).count() == len(want)


def test_ingest_writes_one_file_per_touched_bucket(spark, base):
    from block_explorer_spark.sources import manifest as Mf

    cs.ingest(spark, base, spark.createDataFrame(
        [_doc(i, LONG + f" b{i}") for i in range(40)], COLS))
    rels = Mf.read(base)["families"]["docs"]
    buckets = {r.split("fp_bucket=")[1].split(os.sep)[0] for r in rels}
    # one file per bucket, not one per (task x bucket)
    assert len(rels) == len(buckets)


def test_pre_manifest_store_raises_until_migrated(spark, base):
    """round-5 ADVICE: a store directory holding data files with NO
    committed manifest must raise loudly (it would otherwise silently
    read as empty), and migrate() must adopt the files exactly once."""
    from block_explorer_spark.sources import manifest as Mf

    # fabricate a pre-manifest (round<=4) store: files under corpus/
    # but no _manifest log at all
    prepared = cs._prepared(
        spark.createDataFrame([_doc(1, LONG), _doc(2, LONG + " x")], COLS)
    )
    prepared.write.mode("overwrite").partitionBy("fp_bucket").parquet(
        os.path.join(base, "corpus")
    )
    import shutil

    shutil.rmtree(os.path.join(base, "_manifest"), ignore_errors=True)
    with pytest.raises(RuntimeError, match="migrate"):
        cs.read_corpus(spark, base).count()
    n = cs.migrate(base)
    assert n >= 1
    assert {r.doc_id for r in cs.read_corpus(spark, base).collect()} == {1, 2}
    assert cs.migrate(base) == 0  # idempotent
    # and normal ingest continues on the adopted store
    stats = cs.ingest(
        spark, base,
        spark.createDataFrame([_doc(1, LONG), _doc(9, LONG + " y z")], COLS),
    )
    assert stats["n_known"] == 1 and stats["n_added"] == 1


# ------------------------------------------------- round 6: ExactSubstr tier

RUN = " ".join(f"run{i}" for i in range(10))  # the shared verbatim run


def _filler(tag, n=30):
    return " ".join(f"{tag}{i}" for i in range(n))


def test_ingest_strips_cross_batch_verbatim_runs(spark, base):
    """Round-6 item 3: a crawl batch sharing a long verbatim token run
    with an ACCEPTED doc gets the run stripped at ingest (store wins);
    the stored text keeps everything else."""
    b1 = [(1, _filler("alpha") + " " + RUN, "en", "web")]
    s1 = cs.ingest(spark, base, spark.createDataFrame(b1, COLS), substr_window=8)
    assert s1["n_added"] == 1 and s1["n_substr_stripped"] == 0

    b2 = [(10, RUN + " " + _filler("beta"), "en", "web")]
    s2 = cs.ingest(spark, base, spark.createDataFrame(b2, COLS), substr_window=8)
    assert s2["n_added"] == 1
    assert s2["n_substr_stripped"] == 1 and s2["n_substr_dropped"] == 0

    texts = {r.doc_id: r.text for r in cs.read_corpus(spark, base).collect()}
    assert "run0" in texts[1]                      # first occurrence intact
    assert "run0" not in texts[10] and "run9" not in texts[10]
    assert "beta0" in texts[10] and "beta29" in texts[10]


def test_ingest_substr_replay_converges(spark, base):
    """Replaying a batch whose docs were stripped must add nothing:
    the replay strips to the SAME cleaned text, whose fingerprint is
    already stored (the post-strip fp re-check)."""
    b1 = [(1, _filler("alpha") + " " + RUN, "en", "web")]
    cs.ingest(spark, base, spark.createDataFrame(b1, COLS), substr_window=8)
    b2 = [(10, RUN + " " + _filler("beta"), "en", "web")]
    cs.ingest(spark, base, spark.createDataFrame(b2, COLS), substr_window=8)
    n_before = cs.read_corpus(spark, base).count()

    replay = cs.ingest(spark, base, spark.createDataFrame(b2, COLS), substr_window=8)
    assert replay["n_added"] == 0
    assert cs.read_corpus(spark, base).count() == n_before


def test_ingest_substr_gates_mostly_duplicated_doc(spark, base):
    """A doc that is ~all verbatim duplication falls under the token
    floor after stripping and is dropped, not stored as a stub."""
    b1 = [(1, _filler("alpha") + " " + RUN, "en", "web")]
    cs.ingest(spark, base, spark.createDataFrame(b1, COLS), substr_window=8)
    # 10 run tokens + 15 fresh: passes the 20-token entry gate, but
    # post-strip 15 < min_tokens
    b2 = [(10, RUN + " " + _filler("tiny", 15), "en", "web")]
    s = cs.ingest(spark, base, spark.createDataFrame(b2, COLS), substr_window=8)
    assert s["n_substr_dropped"] == 1 and s["n_added"] == 0
    assert cs.read_corpus(spark, base).count() == 1


def test_ingest_substr_in_batch_first_occurrence_wins(spark, base):
    """q95's batch-local rule: within one batch the globally-first
    occurrence (min doc_id) keeps the run, later docs are stripped."""
    b = [
        (1, _filler("alpha") + " " + RUN, "en", "web"),
        (2, RUN + " " + _filler("beta"), "en", "web"),
    ]
    s = cs.ingest(spark, base, spark.createDataFrame(b, COLS), substr_window=8)
    assert s["n_added"] == 2 and s["n_substr_stripped"] == 1
    texts = {r.doc_id: r.text for r in cs.read_corpus(spark, base).collect()}
    assert "run0" in texts[1] and "run0" not in texts[2]


def test_delete_forgets_substr_index(spark, base):
    """RTBF: deleting a doc must forget its whash sidecar rows in the
    SAME commit — a later batch sharing its run must NOT be stripped
    against the ghost."""
    from block_explorer_spark.sources import manifest as Mf

    b1 = [(1, _filler("alpha") + " " + RUN, "en", "web")]
    cs.ingest(spark, base, spark.createDataFrame(b1, COLS), substr_window=8)
    assert cs.read_whashes(spark, base).count() > 0

    v_before = Mf.current_version(base)
    assert cs.delete_where(spark, base, F.col("doc_id") == 1) == 1
    assert Mf.current_version(base) == v_before + 1  # one swap: docs+sidecars
    assert cs.read_whashes(spark, base).count() == 0

    b2 = [(10, RUN + " " + _filler("beta"), "en", "web")]
    s = cs.ingest(spark, base, spark.createDataFrame(b2, COLS), substr_window=8)
    assert s["n_substr_stripped"] == 0
    texts = {r.doc_id: r.text for r in cs.read_corpus(spark, base).collect()}
    assert "run0" in texts[10]  # run kept: the ghost is gone


def test_substr_sidecar_mirrors_stored_text(spark, base):
    """The sidecar is recomputed on the FINAL (stripped) text, so a
    stored doc's own windows never include spans it no longer has."""
    from block_explorer_spark.operators import substrings as Sub

    b1 = [(1, _filler("alpha") + " " + RUN, "en", "web")]
    cs.ingest(spark, base, spark.createDataFrame(b1, COLS), substr_window=8)
    b2 = [(10, RUN + " " + _filler("beta"), "en", "web")]
    cs.ingest(spark, base, spark.createDataFrame(b2, COLS), substr_window=8)

    want = Sub.token_windows(
        cs.read_corpus(spark, base), "doc_id", "text", 8
    )
    got = cs.read_whashes(spark, base)
    assert sorted(map(tuple, got.collect())) == sorted(
        (r["doc_id"], r["pos"], r["whash"]) for r in want.collect()
    )


# --------------------------------------------- round 6: bucketed sidecars


@pytest.mark.slow
def test_delete_rewrites_only_touched_band_partitions(spark, base):
    """The band sidecar is partitioned by bh_bucket=hash(band,bhash)
    (round 6); the whash sidecar by wr=whash-range with per-file
    doc_id zone maps (round 7). A delete keeps every untouched band
    bucket's exact manifest entries, and rewrites only the whash
    files whose doc_id zone can hold a doomed id — a commit from a
    different id range keeps ALL its whash entries byte-identical."""
    from block_explorer_spark.sources import manifest as Mf

    rows1 = [
        _doc(i, LONG + " " + _filler(f"doc{i}", 25)) for i in range(1, 7)
    ]
    cs.ingest(
        spark, base, spark.createDataFrame(rows1, COLS),
        near_dup_threshold=0.95, substr_window=8,
    )
    whash_rels_1 = set(Mf.read(base)["families"]["whashes"])
    rows2 = [
        _doc(i, LONG + " " + _filler(f"doc{i}", 25)) for i in range(100, 106)
    ]
    cs.ingest(
        spark, base, spark.createDataFrame(rows2, COLS),
        near_dup_threshold=0.95, substr_window=8,
    )
    snap = Mf.read(base)
    band_rels = snap["families"]["bands"]
    whash_rels = snap["families"]["whashes"]
    assert all("bh_bucket=" in r for r in band_rels)
    assert all("wr=" in r for r in whash_rels)
    assert whash_rels_1 < set(whash_rels)  # commit 2 appended files

    # find the band buckets doc 103 lives in
    doomed_bb = {
        r.b
        for r in cs.read_bands(spark, base)
        .filter(F.col("doc_id") == 103)
        .select(cs._band_bucket_col().alias("b"))
        .distinct()
        .collect()
    }
    untouched_bands = {
        r for r in band_rels
        if not any(f"bh_bucket={b}{os.sep}" in r for b in doomed_bb)
    }
    assert untouched_bands  # fixture spans buckets

    assert cs.delete_where(spark, base, F.col("doc_id") == 103) == 1
    after = Mf.read(base)["families"]
    assert untouched_bands <= set(after["bands"])    # byte-identical entries
    # zone pruning: commit 1 (ids 1-6) can't hold id 103 — every one
    # of its whash files keeps its exact manifest entry
    assert whash_rels_1 <= set(after["whashes"])
    # and the rewritten files no longer mention doc 103
    assert cs.read_bands(spark, base).filter(F.col("doc_id") == 103).count() == 0
    assert cs.read_whashes(spark, base).filter(F.col("doc_id") == 103).count() == 0


def test_substr_point_probe_opens_fewer_files(spark, base, monkeypatch):
    """Round-7 item 2: a small probe (few distinct window hashes)
    prunes the sidecar read to the wr ranges its hashes fall in —
    files-opened < files-total. (Whole-batch probes hit every range
    by the pigeonhole math documented at W_RANGES; their lever is the
    broadcast no-store-shuffle execution shape.)"""
    from block_explorer_spark.sources import manifest as Mf

    for b in range(3):
        rows = [
            _doc(100 * b + i, _filler(f"b{b}d{i}", 28)) for i in range(1, 5)
        ]
        cs.ingest(spark, base, spark.createDataFrame(rows, COLS), substr_window=8)
    total = len(Mf.read(base)["families"]["whashes"])
    assert total >= 16  # three commits spread across the wr ranges

    seen: list[int] = []
    orig = cs._read_whash_files

    def spy(spark_, base_, rels):
        seen.append(len(rels))
        return orig(spark_, base_, rels)

    monkeypatch.setattr(cs, "_read_whash_files", spy)
    # a 20-token doc probes with 13 distinct window hashes -> at most
    # 13 of the 16 wr ranges can be hit, so the pruned read is a
    # strict subset of the sidecar whatever the hash values
    probe = [_doc(999, " ".join(f"probe{i}" for i in range(20)))]
    cs.ingest(spark, base, spark.createDataFrame(probe, COLS), substr_window=8)
    assert seen and min(seen) < total


def test_near_dup_probe_reads_only_pruned_band_buckets(spark, base):
    """The sidecar probe prunes to the batch's bh_buckets python-side
    (the fp_buckets recipe): pin the pruning rule. A band file outside
    every bh_bucket= directory is an older layout that the readers
    refuse until `migrate` (test_migrate_rewrites_pre_bucketed_band_file)."""
    rels = [
        f"bands/bh_bucket=3{os.sep}part-a.parquet",
        f"bands/bh_bucket=7{os.sep}part-b.parquet",
    ]
    got = cs._bucket_files(rels, [3], "bh_bucket")
    assert got == [f"bands/bh_bucket=3{os.sep}part-a.parquet"]
    assert cs._bucket_files(rels, [], "bh_bucket") == []


# ------------------------------------------- migrate: older sidecar layouts


def _store_pair(spark, tmp_path):
    """Two stores built by the same ingest with both sidecars: the
    first stays as written, the caller rewrites the second's sidecar
    into an older round's layout (the writers no longer produce one)."""
    rows = [_doc(i, _filler(f"doc{i}", 40)) for i in range(1, 9)]
    bases = [str(tmp_path / "fresh"), str(tmp_path / "old")]
    for b in bases:
        cs.ingest(
            spark, b, spark.createDataFrame(rows, COLS),
            near_dup_threshold=0.7, substr_window=8,
        )
    return bases


def _commit_sidecar(base, family, tables):
    """Replace the sidecar family with raw parquet files, {relpath:
    pyarrow table}, in one Mf.commit."""
    import pyarrow.parquet as pq

    from block_explorer_spark.sources import manifest as Mf

    for rel, table in tables.items():
        os.makedirs(os.path.dirname(os.path.join(base, rel)), exist_ok=True)
        pq.write_table(table, os.path.join(base, rel))
    cur = Mf.read(base)
    families = dict(cur["families"], **{family: sorted(tables)})
    Mf.commit(base, families, cur["version"], meta={"kind": "test"})


def _migrates_once(spark, old, family, uses):
    """Every sidecar reader refuses the old layout naming migrate;
    migrate rewrites it in one commit and a second call commits
    nothing."""
    from block_explorer_spark.sources import manifest as Mf

    n_old = len(Mf.read(old)["families"][family])
    for use in uses:
        with pytest.raises(RuntimeError, match=r"corpus_store\.migrate"):
            use()
    v0 = Mf.current_version(old)
    assert cs.migrate(old) == n_old
    assert Mf.current_version(old) == v0 + 1
    assert cs.migrate(old) == 0
    assert Mf.current_version(old) == v0 + 1
    tag = {"bands": "bh_bucket", "whashes": "wr"}[family]
    assert all(f"{tag}=" in r for r in Mf.read(old)["families"][family])


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_migrate_rewrites_pre_bucketed_band_file(spark, tmp_path):
    """The band sidecar before round 6: one unpartitioned file that
    can hold any bucket's rows (the probe used to read it on every
    batch). After migrate the store probes, deletes and compacts
    exactly like a freshly written one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from block_explorer_spark.sources import manifest as Mf

    fresh, old = _store_pair(spark, tmp_path)
    rows = pa.concat_tables(
        pq.ParquetFile(os.path.join(old, r)).read(["doc_id", "band", "bhash"])
        for r in Mf.read(old)["families"]["bands"]
    )
    _commit_sidecar(old, "bands", {"bands/part-legacy.parquet": rows})
    probe = [_doc(20, _mutate(_filler("doc3", 40), 2, "zz"))]
    _migrates_once(spark, old, "bands", [
        lambda: cs.read_bands(spark, old),
        lambda: cs.ingest(spark, old, spark.createDataFrame(probe, COLS),
                          near_dup_threshold=0.7),
        lambda: cs.delete_where(spark, old, F.col("doc_id") == 2),
        lambda: cs.compact(spark, old),
    ])
    assert _rows(cs.read_bands(spark, old)) == _rows(cs.read_bands(spark, fresh))
    for b in (fresh, old):
        stats = cs.ingest(spark, b, spark.createDataFrame(probe, COLS),
                          near_dup_threshold=0.7)
        assert stats["n_near_dup"] == 1
        assert cs.delete_where(spark, b, F.col("doc_id") == 2) == 1
    assert _rows(cs.read_bands(spark, old)) == _rows(cs.read_bands(spark, fresh))
    assert _rows(cs.read_corpus(spark, old)) == _rows(cs.read_corpus(spark, fresh))


def test_migrate_rewrites_doc_bucket_whash_files(spark, tmp_path):
    """The whash sidecar before round 7: files under doc_bucket=
    directories (hash of doc_id), without the wr= ranges a point probe
    prunes to. After migrate the store probes and deletes exactly like
    a freshly written one."""
    import pyarrow as pa

    fresh, old = _store_pair(spark, tmp_path)
    per_bucket: dict = {}
    for r in cs.read_whashes(spark, old).withColumn(
        "b", F.pmod(F.xxhash64("doc_id"), F.lit(cs.N_SIDECAR_BUCKETS))
    ).collect():
        per_bucket.setdefault(r.b, []).append(r.asDict())
    schema = pa.schema([("doc_id", pa.int64()), ("pos", pa.int32()),
                        ("whash", pa.string())])
    _commit_sidecar(old, "whashes", {
        f"whashes/doc_bucket={b}{os.sep}part-old.parquet":
            pa.Table.from_pylist(rs, schema).select(["doc_id", "pos", "whash"])
        for b, rs in per_bucket.items()
    })
    # shares a 10-token run with stored doc 3
    probe = [_doc(20, " ".join(_filler("doc3", 40).split()[5:15]) + " "
                  + _filler("fresh", 25))]
    _migrates_once(spark, old, "whashes", [
        lambda: cs.read_whashes(spark, old),
        lambda: cs.ingest(spark, old, spark.createDataFrame(probe, COLS),
                          substr_window=8),
        lambda: cs.delete_where(spark, old, F.col("doc_id") == 2),
        lambda: cs.compact(spark, old),
    ])
    assert _rows(cs.read_whashes(spark, old)) == _rows(cs.read_whashes(spark, fresh))
    for b in (fresh, old):
        stats = cs.ingest(spark, b, spark.createDataFrame(probe, COLS),
                          substr_window=8)
        assert stats["n_substr_stripped"] == 1
        assert cs.delete_where(spark, b, F.col("doc_id") == 2) == 1
    assert _rows(cs.read_whashes(spark, old)) == _rows(cs.read_whashes(spark, fresh))
    assert _rows(cs.read_corpus(spark, old)) == _rows(cs.read_corpus(spark, fresh))


def test_streaming_ingest_with_substr_tier(spark, base, tmp_path):
    """The streaming path exposes the full dedup stack: a second-wave
    crawl file sharing a verbatim run with wave 1 is stripped at
    ingest through the checkpointed stream."""
    src = str(tmp_path / "crawl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    w1 = [(1, _filler("alpha") + " " + RUN, "en", "web")]
    spark.createDataFrame(w1, COLS).coalesce(1).write.mode("append").parquet(src)
    q = cs.start_ingest_stream(spark, src, base, ckpt, substr_window=8)
    q.awaitTermination(120)

    w2 = [(10, RUN + " " + _filler("beta"), "en", "web")]
    spark.createDataFrame(w2, COLS).coalesce(1).write.mode("append").parquet(src)
    q = cs.start_ingest_stream(spark, src, base, ckpt, substr_window=8)
    q.awaitTermination(120)

    texts = {r.doc_id: r.text for r in cs.read_corpus(spark, base).collect()}
    assert "run0" in texts[1] and "run0" not in texts[10]
    assert "beta0" in texts[10]


def test_ingest_staged_files_survive_concurrent_aggressive_vacuum(
    spark, base, monkeypatch
):
    """Round-6 item 7 at the STORE level: ingest registers a write
    intent before staging, so a vacuum(min_age_s=0) firing inside the
    stage->commit window (deterministically injected just before the
    commit) cannot eat the staged files — the commit then lands them
    intact."""
    from block_explorer_spark.sources import manifest as Mf

    cs.ingest(spark, base, spark.createDataFrame([_doc(1, LONG)], COLS))

    real_commit = Mf.commit
    fired = {}

    def vacuum_then_commit(b, families, expect_version, meta=None, **kw):
        if not fired:
            fired["removed"] = Mf.vacuum(b, min_age_s=0)  # worst-case timing
        return real_commit(b, families, expect_version, meta, **kw)

    monkeypatch.setattr(Mf, "commit", vacuum_then_commit)
    stats = cs.ingest(
        spark, base,
        spark.createDataFrame([_doc(2, LONG + " fresh words here")], COLS),
    )
    monkeypatch.undo()
    assert fired["removed"] == 0  # the lease protected the staged files
    assert stats["n_added"] == 1
    assert {r.doc_id for r in cs.read_corpus(spark, base).collect()} == {1, 2}


@pytest.mark.slow
def test_substr_sweep_strips_pre_tier_duplication(spark, base):
    """substr_sweep: a store built WITHOUT the incremental tier gets
    the batch-global q95 treatment — first occurrence keeps the run,
    later docs are stripped in place (new fp), near-empty docs are
    deleted, the whash sidecar mirrors the result, and a second sweep
    is a no-op."""
    rows = [
        _doc(1, _filler("alpha") + " " + RUN),
        _doc(2, RUN + " " + _filler("beta")),          # -> stripped
        _doc(3, RUN + " " + _filler("tiny", 15)),      # -> under floor: deleted
        _doc(4, _filler("gamma")),                     # untouched
    ]
    cs.ingest(spark, base, spark.createDataFrame(rows, COLS))
    assert cs.read_corpus(spark, base).count() == 4

    stats = cs.substr_sweep(spark, base, window=8)
    assert stats == {"n_stripped": 1, "n_deleted": 1}
    texts = {r.doc_id: r.text for r in cs.read_corpus(spark, base).collect()}
    assert set(texts) == {1, 2, 4}
    assert "run0" in texts[1] and "run0" not in texts[2]
    assert "beta0" in texts[2] and texts[4].startswith("gamma0")
    # fp/ntok rewritten consistently for the stripped doc
    row2 = [r for r in cs.read_corpus(spark, base).collect() if r.doc_id == 2][0]
    expect = cs._prepared(
        spark.createDataFrame([(2, row2.text, "en", "web")], COLS)
    ).collect()[0]
    assert row2.fp == expect.fp and row2.ntok == expect.ntok

    # idempotent
    assert cs.substr_sweep(spark, base, window=8) == {
        "n_stripped": 0, "n_deleted": 0,
    }
    # and future ingests dedup against the swept state
    again = cs.ingest(
        spark, base,
        spark.createDataFrame([(20, texts[2], "en", "web")], COLS),
    )
    assert again["n_known"] == 1 and again["n_added"] == 0


@pytest.mark.slow
def test_substr_sweep_rebuilds_sidecar_for_tier_stores(spark, base):
    """On a store running the incremental tier, the sweep republishes
    a whash sidecar that mirrors the post-sweep text exactly."""
    from block_explorer_spark.operators import substrings as Sub

    cs.ingest(
        spark, base,
        spark.createDataFrame(
            [_doc(1, _filler("alpha") + " " + RUN)], COLS
        ),
        substr_window=8,
    )
    # a second batch ingested WITHOUT the tier sneaks a duplicate run in
    cs.ingest(
        spark, base,
        spark.createDataFrame([_doc(5, RUN + " " + _filler("delta"))], COLS),
    )
    stats = cs.substr_sweep(spark, base, window=8)
    assert stats["n_stripped"] == 1
    want = sorted(
        (r["doc_id"], r["pos"], r["whash"])
        for r in Sub.token_windows(
            cs.read_corpus(spark, base), "doc_id", "text", 8
        ).collect()
    )
    got = sorted(map(tuple, cs.read_whashes(spark, base).collect()))
    assert got == want


def test_changes_feed_inserts_deletes_maintenance_invisible(spark, base):
    """Round-6 CDC: an incremental consumer sees exactly the inserted
    docs per ingest commit and the deleted doc_ids per delete commit —
    and nothing at all from compaction, which moves bytes not rows."""
    from block_explorer_spark.sources import manifest as Mf

    b1 = [_doc(1, LONG), _doc(2, LONG + " extra")]
    b2 = [_doc(11, LONG + " brand new words here")]
    cs.ingest(spark, base, spark.createDataFrame(b1, COLS))       # v1
    v1 = Mf.current_version(base)
    cs.ingest(spark, base, spark.createDataFrame(b2, COLS))       # v2
    cs.compact(spark, base)                                        # v3 (maybe no-op)
    cs.delete_where(spark, base, F.col("doc_id") == 2)             # delete commit

    feed = cs.changes_since(spark, base, since_version=0).collect()
    by_op = {}
    for r in feed:
        by_op.setdefault(r["op"], []).append(r)
    assert {r["doc_id"] for r in by_op["insert"]} == {1, 2, 11}
    assert [r["doc_id"] for r in by_op["delete"]] == [2]
    assert "update" not in by_op
    # the delete row carries the fingerprint for audit joins
    assert by_op["delete"][0]["fp"] is not None
    # versions are the commit versions, monotone along the feed
    ins_versions = {r["doc_id"]: r["version"] for r in by_op["insert"]}
    assert ins_versions[1] == v1 and ins_versions[11] == v1 + 1

    # a consumer checkpointed at v1 sees only batch 2 + the delete
    tail = cs.changes_since(spark, base, since_version=v1).collect()
    assert {(r["op"], r["doc_id"]) for r in tail} == {
        ("insert", 11), ("delete", 2),
    }
    # fully caught up: empty feed, correct schema
    done = cs.changes_since(spark, base, Mf.current_version(base))
    assert done.count() == 0
    assert done.columns[:2] == ["version", "op"]


def test_changes_feed_replays_to_current_state(spark, base):
    """Applying the feed from an empty checkpoint reproduces the
    store: inserts minus deletes == read_corpus, including across a
    compact() in the middle."""
    cs.ingest(spark, base, spark.createDataFrame(
        [_doc(1, LONG), _doc(2, LONG + " two")], COLS))
    cs.compact(spark, base)
    cs.ingest(spark, base, spark.createDataFrame(
        [_doc(3, LONG + " three")], COLS))
    cs.delete_where(spark, base, F.col("doc_id") == 1)

    feed = cs.changes_since(spark, base, 0).collect()
    state: dict[int, str] = {}
    for r in sorted(feed, key=lambda r: r["version"]):
        if r["op"] == "insert" or r["op"] == "update":
            state[r["doc_id"]] = r["text"]
        else:
            state.pop(r["doc_id"])
    stored = {r["doc_id"]: r["text"] for r in cs.read_corpus(spark, base).collect()}
    assert state == stored


def test_sweep_emits_update_and_delete_change_rows(spark, base):
    """substr_sweep rewrites history, so its commit must carry the
    change rows: stripped-but-surviving docs as 'update' (full new
    text), collapsed docs as 'delete'."""
    run = " ".join(f"shared{i}" for i in range(60))
    uniq_a = " ".join(f"alpha{i}" for i in range(30))
    cs.ingest(spark, base, spark.createDataFrame(
        [_doc(1, run + " " + uniq_a)], COLS))
    # doc 20 repeats the run + its own tail (update case after strip);
    # doc 30 is ONLY the run (strips to nothing -> delete case)
    cs.ingest(spark, base, spark.createDataFrame(
        [_doc(20, run + " " + " ".join(f"beta{i}" for i in range(30))),
         _doc(30, run)], COLS))
    from block_explorer_spark.sources import manifest as Mf

    v_before = Mf.current_version(base)
    res = cs.substr_sweep(spark, base, window=50)
    assert res["n_stripped"] >= 1 and res["n_deleted"] >= 1

    feed = cs.changes_since(spark, base, since_version=v_before).collect()
    ops = {(r["op"], r["doc_id"]) for r in feed}
    assert ("update", 20) in ops
    assert ("delete", 30) in ops
    # the update row carries the post-strip text exactly as stored
    stored = {r["doc_id"]: r["text"] for r in cs.read_corpus(spark, base).collect()}
    upd = next(r for r in feed if r["op"] == "update" and r["doc_id"] == 20)
    assert upd["text"] == stored[20]
    assert "shared0" not in upd["text"]


def test_point_lookup_prunes_files(spark, base):
    """Zone maps on doc_id: three id-disjoint ingests leave three file
    generations; a point lookup opens only the generation whose
    [min,max] zone covers the id."""
    from block_explorer_spark.sources import manifest as Mf

    for lo in (100, 200, 300):
        rows = [_doc(lo + i, LONG + f" gen{lo} word{i}") for i in range(3)]
        cs.ingest(spark, base, spark.createDataFrame(rows, COLS))

    m = Mf.read(base)
    all_files = {os.path.join(base, r) for r in m["families"]["docs"]}
    diffs = Mf.added_files(base, "docs")
    gen2_files = {os.path.join(base, r) for r in diffs[1]["added"]["docs"]}

    df = cs.read_docs_by_ids(spark, base, [201])
    scanned = {f.removeprefix("file://") for f in df.inputFiles()}
    assert scanned and scanned <= gen2_files and len(scanned) < len(all_files)
    assert [r["doc_id"] for r in df.collect()] == [201]

    # multiple ids across generations still correct
    got = {r["doc_id"] for r in cs.read_docs_by_ids(spark, base, [100, 301]).collect()}
    assert got == {100, 301}
    # absent id: empty, no error
    assert cs.read_docs_by_ids(spark, base, [999]).count() == 0


def test_truncate_change_log_retires_mutation_rows(spark, base):
    from block_explorer_spark.sources import manifest as Mf

    cs.ingest(spark, base, spark.createDataFrame(
        [_doc(1, LONG), _doc(2, LONG + " two")], COLS))
    cs.delete_where(spark, base, F.col("doc_id") == 1)
    assert Mf.read(base)["families"].get("cdc")
    v = Mf.current_version(base)
    assert cs.truncate_change_log(spark, base) == 1
    assert not Mf.read(base)["families"].get("cdc")
    # the truncate commit itself is maintenance: invisible to the feed
    assert cs.changes_since(spark, base, since_version=v).count() == 0
    assert cs.truncate_change_log(spark, base) == 0  # idempotent


@pytest.mark.slow
def test_sweep_families_never_cross_contaminate(spark, base):
    """Regression (round 6): substr_sweep aliased the whashes family
    list into its staged-files accumulator, so a store running BOTH
    sidecar tiers leaked band/cdc relpaths into families['whashes'] —
    read_whashes then decoded foreign parquet as null rows. Every
    family must list only its own directory's files."""
    run = " ".join(f"shared{i}" for i in range(60))
    mk = lambda p: " ".join(f"{p}{i}" for i in range(30))
    cs.ingest(spark, base, spark.createDataFrame(
        [_doc(1, run + " " + mk("alpha"))], COLS),
        near_dup_threshold=0.9, substr_window=50)
    cs.ingest(spark, base, spark.createDataFrame(
        [_doc(2, run + " " + mk("beta"))], COLS))  # duplicate run, no tier
    cs.substr_sweep(spark, base, window=50)

    from block_explorer_spark.sources import manifest as Mf

    fams = Mf.read(base)["families"]
    prefix = {"docs": "corpus/", "bands": "bands/", "whashes": "whashes/",
              "cdc": "cdc/"}
    for fam, rels in fams.items():
        for r in rels:
            assert r.startswith(prefix[fam]), (fam, r)
    # and the sidecar decodes cleanly: no null rows
    rows = cs.read_whashes(spark, base).collect()
    assert rows and all(
        r["doc_id"] is not None and r["whash"] is not None for r in rows
    )
