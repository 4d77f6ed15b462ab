"""End-to-end training-data pipeline: raw crawl batches → curated
corpus store (gates + exact + near dedup) → deterministic embedding →
vector store (founding train + adds + probes) → token-budget selection
→ train/val/test split. One test drives the whole loop the way a
pipeline owner would, across two ingest rounds, asserting the
invariants that matter end to end: exactly-once content, dedup across
rounds, budget arithmetic, and split determinism."""

from __future__ import annotations

import hashlib
import os
import random

import pytest

from pyspark.sql import functions as F

from block_explorer_spark.operators import sampling as Smp
from block_explorer_spark.operators import selection as Sel
from block_explorer_spark.functions import text as Tx
from block_explorer_spark.sources import corpus_store as cs
from block_explorer_spark.sources import vector_store as vs

VOCAB = [f"word{i}" for i in range(40)]


def _doc(rng, doc_id, lang="en"):
    # 30 DISTINCT words per doc: repetition gate passes cleanly, and
    # random orderings keep cross-doc 3-gram jaccard far below 0.8
    return (doc_id, " ".join(rng.sample(VOCAB, 30)), lang, "web")


def _embed(df):
    """Deterministic stand-in embedder: 8-dim token-hash histogram,
    unit-normalized — pure Spark, no model dependency."""
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    buckets = F.expr(
        "transform(sequence(0, 7), b -> "
        "size(filter(transform(split(lower(trim(text)), '\\\\s+'),"
        " t -> pmod(xxhash64(t), 8)), h -> h = b)))"
    )
    vec = F.expr(
        "transform(slots, s -> cast(s / sqrt(aggregate(slots, 0L, (a, x) -> a + x * x)) as float))"
    )
    return (
        df.withColumn("slots", buckets)
        .withColumn("embedding", vec)
        .select(F.col("doc_id").alias("vec_id"), "embedding", F.lit(0).alias("label"))
    )


def test_full_pipeline_two_rounds(spark, tmp_path):
    corpus_base = str(tmp_path / "corpus")
    vec_base = str(tmp_path / "vectors")
    rng = random.Random(11)

    # --- round 1: founding crawl -------------------------------------
    b1 = [_doc(rng, i) for i in range(40)]
    b1.append((100, b1[0][1], "en", "web"))  # exact content dup in-batch
    stats1 = cs.ingest(spark, corpus_base, spark.createDataFrame(
        b1, ["doc_id", "text", "lang", "source"]), near_dup_threshold=0.8)
    assert stats1["n_added"] == 40 and stats1["n_batch_dup"] == 1

    corpus = cs.read_corpus(spark, corpus_base)
    emb1 = _embed(corpus)
    vstats1 = vs.create(spark, vec_base, emb1, n_centroids=4, seed=3)
    assert vstats1["n_added"] == 40

    # --- round 2: incremental crawl (replays + new) ------------------
    b2 = [b1[5], b1[6]] + [_doc(rng, 200 + i) for i in range(10)]
    stats2 = cs.ingest(spark, corpus_base, spark.createDataFrame(
        b2, ["doc_id", "text", "lang", "source"]), near_dup_threshold=0.8)
    assert stats2["n_known"] == 2 and stats2["n_added"] == 10

    corpus = cs.read_corpus(spark, corpus_base)
    assert corpus.count() == 50
    # embed only the new docs — the incremental add
    new_docs = corpus.filter(F.col("doc_id") >= 200)
    vstats2 = vs.add_batch(spark, vec_base, _embed(new_docs))
    assert vstats2["n_added"] == 10
    assert vs.read_vectors(spark, vec_base).count() == 50

    # probes answer from the grown store
    qvec = [float(x) for x in
            vs.read_vectors(spark, vec_base).filter("vec_id = 201").head()["embedding"]]
    top = vs.probe(spark, vec_base, qvec, k=3, n_probe=2).collect()
    assert top and top[0]["vec_id"] == 201  # self is its own nearest

    # --- selection + split over the curated corpus -------------------
    scored = corpus.select(
        "doc_id",
        Tx.quality_score("text").alias("quality"),
        F.col("ntok").cast("long").alias("ntok"),
    )
    budget = 600  # 50 docs x 30 tokens = 1500 total; take ~40%
    sel = Sel.budget_select(scored, "quality", "ntok", "doc_id", budget)
    rows = sel.collect()
    assert rows and sum(r["ntok"] for r in rows) <= budget
    # greedy prefix: equals the Python reference
    naive, cum = [], 0
    for r in sorted(scored.collect(), key=lambda r: (-r["quality"], r["doc_id"])):
        cum += r["ntok"]
        if cum > budget:
            break
        naive.append(r["doc_id"])
    assert sorted(r["doc_id"] for r in rows) == sorted(naive)

    # deterministic split of the selected set matches the md5 rule
    split = (
        sel.withColumn("bucket", Smp.hash_bucket("doc_id", 10))
        .withColumn(
            "split",
            F.when(F.col("bucket") < 8, "train")
            .when(F.col("bucket") == 8, "val")
            .otherwise("test"),
        )
    )
    got = {r["doc_id"]: r["split"] for r in split.collect()}
    for doc_id, s in got.items():
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 10
        assert s == ("train" if b < 8 else "val" if b == 8 else "test")


# ------------------------------------------------ round 7: CDC consumer


@pytest.mark.slow
def test_cdc_consumer_mirror_converges_and_fails_loud(spark, tmp_path):
    """The canonical change-feed consumer (sources/cdc_consumer.py):
    an incremental token-stats mirror that checkpoints since_version,
    consumes changes across ingest + delete + sweep + maintenance
    rounds, always equals the batch recompute over the snapshot, and
    fails LOUDLY (then resyncs) when vacuum retires its checkpoint."""
    from block_explorer_spark.sources import cdc_consumer as cdc
    from block_explorer_spark.sources import manifest as Mf

    base = str(tmp_path / "corpus")
    state = str(tmp_path / "mirror")
    COLS = ["doc_id", "text", "lang", "source"]
    filler = lambda tag, n=30: " ".join(f"{tag}{i}" for i in range(n))
    run = " ".join(f"shared{i}" for i in range(10))

    def assert_converged():
        want = {
            tuple(r)
            for r in cdc._doc_stats(cs.read_corpus(spark, base)).collect()
        }
        got = {tuple(r) for r in cdc.read_mirror(spark, state).collect()}
        assert got == want

    # round 1: plain inserts
    b1 = [(i, filler(f"a{i}"), "en", "web") for i in range(1, 6)]
    cs.ingest(spark, base, spark.createDataFrame(b1, COLS))
    s = cdc.sync(spark, base, state)
    assert s["n_changes"] == 5
    assert_converged()

    # round 2+3 consumed in ONE sync: more inserts, then a delete
    b2 = [(i, filler(f"b{i}"), "en", "web") for i in range(10, 15)]
    b2.append((20, filler("tail") + " " + run, "en", "web"))   # sweep prey
    b2.append((21, run + " " + filler("head"), "en", "web"))   # sweep prey
    cs.ingest(spark, base, spark.createDataFrame(b2, COLS))
    cs.delete_where(spark, base, F.col("doc_id") == 3)
    s = cdc.sync(spark, base, state)
    assert s["n_changes"] == 8  # 7 inserts + 1 delete
    assert_converged()

    # round 4: sweep strips doc 21's shared run -> an 'update' row
    sw = cs.substr_sweep(spark, base, window=8)
    assert sw["n_stripped"] >= 1
    cdc.sync(spark, base, state)
    assert_converged()

    # maintenance-only commits are invisible to the feed
    cs.compact(spark, base)
    s = cdc.sync(spark, base, state)
    assert s["n_changes"] == 0
    assert_converged()

    # retention: vacuum past the checkpoint -> loud error -> resync
    ck_before = cdc._read_ckpt(state)["since_version"]
    b3 = [(i, filler(f"c{i}"), "en", "web") for i in range(30, 33)]
    cs.ingest(spark, base, spark.createDataFrame(b3, COLS))
    cs.ingest(
        spark, base,
        spark.createDataFrame([(40, filler("d40"), "en", "web")], COLS),
    )
    Mf.vacuum(base, keep_last=1, min_age_s=0.0)
    with pytest.raises(RuntimeError):
        cdc.sync(spark, base, state)
    # untouched mirror still serves the last synced state
    assert cdc._read_ckpt(state)["since_version"] == ck_before
    cdc.resync(spark, base, state)
    assert_converged()
    # and the incremental path resumes after the rebuild
    cs.ingest(
        spark, base,
        spark.createDataFrame([(50, filler("e50"), "en", "web")], COLS),
    )
    s = cdc.sync(spark, base, state)
    assert s["n_changes"] == 1
    assert_converged()


@pytest.mark.slow
def test_cdc_hll_sketch_state_tracks_delta(spark, tmp_path):
    """Incremental mergeable-sketch state over the change feed: the
    persisted HLL registers after N syncs equal the batch registers
    over every doc ever inserted (register-level, exact), deletes do
    not retract (documented HLL semantics), the estimate lands near
    the true distinct-token count, and a vacuumed checkpoint fails
    loud then hll_resync recovers."""
    from block_explorer_spark.operators import sketches as SK
    from block_explorer_spark.sources import cdc_consumer as cdc
    from block_explorer_spark.sources import manifest as Mf

    base = str(tmp_path / "corpus")
    state = str(tmp_path / "sketch")
    COLS = ["doc_id", "text", "lang", "source"]
    filler = lambda tag, n=30: " ".join(f"{tag}w{i}" for i in range(n))

    def expected_regs(texts):
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        toks = df.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
        )
        return {
            (r["register"], r["max_rho"])
            for r in SK.hll_registers(toks, "tok", p=cdc.HLL_P).collect()
        }

    def got_regs():
        return {
            (r["register"], r["max_rho"])
            for r in cdc.read_hll_registers(spark, state).collect()
        }

    b1 = [(i, filler(f"a{i}"), "en", "web") for i in range(1, 6)]
    cs.ingest(spark, base, spark.createDataFrame(b1, COLS))
    s = cdc.hll_sync(spark, base, state)
    assert s["n_changes"] == 5
    ever = [t for _, t, _, _ in b1]
    assert got_regs() == expected_regs(ever)

    # second batch + a delete consumed in one sync: registers equal
    # the union of ALL ever-inserted texts (delete doesn't retract)
    b2 = [(i, filler(f"b{i}"), "en", "web") for i in range(10, 15)]
    cs.ingest(spark, base, spark.createDataFrame(b2, COLS))
    cs.delete_where(spark, base, F.col("doc_id") == 3)
    s = cdc.hll_sync(spark, base, state, on_delete="keep")
    assert s["n_changes"] == 5  # delete rows filtered out
    ever += [t for _, t, _, _ in b2]
    assert got_regs() == expected_regs(ever)

    # estimate within 10% of the true ever-inserted distinct count
    true = len({w for t in ever for w in t.lower().split()})
    est = cdc.hll_estimate_tokens(spark, state)
    assert abs(est - true) / true < 0.10

    # caught-up sync is a no-op
    assert cdc.hll_sync(spark, base, state, on_delete="keep")["n_changes"] == 0

    # retention: vacuum past the checkpoint -> loud -> resync recovers
    cs.ingest(
        spark, base,
        spark.createDataFrame([(30, filler("c30"), "en", "web")], COLS),
    )
    cs.ingest(
        spark, base,
        spark.createDataFrame([(31, filler("c31"), "en", "web")], COLS),
    )
    Mf.vacuum(base, keep_last=1, min_age_s=0.0)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="hll_resync"):
        cdc.hll_sync(spark, base, state, on_delete="keep")
    cdc.hll_resync(spark, base, state)
    live_texts = [r["text"] for r in cs.read_corpus(spark, base).collect()]
    assert got_regs() == expected_regs(live_texts)


@pytest.mark.slow
def test_cdc_mirror_folds_run_stack(spark, tmp_path):
    """The mirror's LSM contract: each sync appends ONE delta run
    (write cost ∝ delta), and the stack folds once it exceeds
    MAX_RUNS — read-side merge stays bounded while the mirror still
    equals the batch recompute."""
    from block_explorer_spark.sources import cdc_consumer as cdc

    base = str(tmp_path / "corpus")
    state = str(tmp_path / "mirror")
    COLS = ["doc_id", "text", "lang", "source"]
    filler = lambda tag: " ".join(f"{tag}{i}" for i in range(25))
    for r in range(cdc.MAX_RUNS + 2):
        b = [(100 * r + i, filler(f"r{r}d{i}"), "en", "web") for i in range(2)]
        cs.ingest(spark, base, spark.createDataFrame(b, COLS))
        cdc.sync(spark, base, state)
    ck = cdc._read_ckpt(state)
    assert len(ck["runs"]) <= cdc.MAX_RUNS  # folded at least once
    want = {
        tuple(x)
        for x in cdc._doc_stats(cs.read_corpus(spark, base)).collect()
    }
    got = {tuple(x) for x in cdc.read_mirror(spark, state).collect()}
    assert got == want
    # orphan gc: every dir on disk is a live run
    on_disk = {
        n for n in os.listdir(state)
        if os.path.isdir(os.path.join(state, n))
    }
    assert on_disk == set(ck["runs"])


def test_cdc_hll_delete_triggers_epoch_rebuild(spark, tmp_path):
    """Default delete semantics: HLL registers cannot decrement, so a
    delete-bearing change window forces an epoch rebuild from the
    snapshot — loudly ({"rebuilt": True}) — and after EVERY sync the
    persisted estimate equals the batch hll_distinct over the LIVE
    corpus."""
    from block_explorer_spark.operators import sketches as SK
    from block_explorer_spark.sources import cdc_consumer as cdc

    base = str(tmp_path / "corpus")
    state = str(tmp_path / "sketch")
    COLS = ["doc_id", "text", "lang", "source"]
    filler = lambda tag, n=40: " ".join(f"{tag}w{i}" for i in range(n))

    def batch_estimate():
        toks = cs.read_corpus(spark, base).select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
        )
        regs = SK.hll_registers(toks, "tok", p=cdc.HLL_P)
        rows = SK.hll_estimate(regs, (), p=cdc.HLL_P).collect()
        return float(rows[0]["hll_estimate"]) if rows else 0.0

    cs.ingest(spark, base, spark.createDataFrame(
        [(i, filler(f"a{i}"), "en", "web") for i in range(1, 8)], COLS))
    s = cdc.hll_sync(spark, base, state)
    assert "rebuilt" not in s
    assert cdc.hll_estimate_tokens(spark, state) == batch_estimate()

    # pure-insert round: incremental merge, no rebuild
    cs.ingest(spark, base, spark.createDataFrame(
        [(i, filler(f"b{i}"), "en", "web") for i in range(10, 14)], COLS))
    s = cdc.hll_sync(spark, base, state)
    assert "rebuilt" not in s and s["n_changes"] == 4
    assert cdc.hll_estimate_tokens(spark, state) == batch_estimate()

    # delete-bearing round: loud epoch rebuild, estimate tracks LIVE
    cs.delete_where(spark, base, F.col("doc_id") <= 3)
    s = cdc.hll_sync(spark, base, state)
    assert s.get("rebuilt") is True
    assert cdc.hll_estimate_tokens(spark, state) == batch_estimate()

    # and the next insert round goes back to delta-cost merging
    cs.ingest(spark, base, spark.createDataFrame(
        [(20, filler("c20"), "en", "web")], COLS))
    s = cdc.hll_sync(spark, base, state)
    assert "rebuilt" not in s and s["n_changes"] == 1
    assert cdc.hll_estimate_tokens(spark, state) == batch_estimate()


def test_cdc_qhist_state_exact_through_deletes(spark, tmp_path):
    """The quantile-histogram member of the maintained-sketch family:
    after every insert/delete sync the persisted (bucket, cnt) state
    equals a batch qhist_state over the LIVE corpus, bucket for
    bucket — deletes are exact decrements from the pre-delete
    snapshot, never a rebuild. Updates rebuild loudly; retention
    failure is loud; resync recovers; the served p50/p99 matches the
    batch estimator."""
    import pytest as _pytest

    from block_explorer_spark.operators import sketches as SK
    from block_explorer_spark.sources import cdc_consumer as cdc
    from block_explorer_spark.sources import manifest as Mf

    base = str(tmp_path / "corpus")
    state = str(tmp_path / "qh")
    COLS = ["doc_id", "text", "lang", "source"]
    filler = lambda tag, n: " ".join(f"{tag}w{i}" for i in range(n))

    def batch_state():
        return {
            r["bucket"]: r["cnt"]
            for r in cdc._doc_len_state(cs.read_corpus(spark, base)).collect()
        }

    def got_state():
        return {
            r["bucket"]: r["cnt"]
            for r in cdc.read_qhist_state(spark, state).collect()
        }

    b1 = [(i, filler(f"a{i}", 25 + 7 * i), "en", "web") for i in range(1, 6)]
    cs.ingest(spark, base, spark.createDataFrame(b1, COLS))
    s = cdc.qhist_sync(spark, base, state)
    assert "rebuilt" not in s and s["n_changes"] == 5
    assert got_state() == batch_state()

    # insert + delete in one window: exact decrement, no rebuild
    b2 = [(i, filler(f"b{i}", 200 + i), "en", "web") for i in range(10, 14)]
    cs.ingest(spark, base, spark.createDataFrame(b2, COLS))
    cs.delete_where(spark, base, F.col("doc_id").isin([2, 11]))
    s = cdc.qhist_sync(spark, base, state)
    assert "rebuilt" not in s
    assert got_state() == batch_state()

    # served quantiles == batch estimator over the live corpus
    got_q = cdc.qhist_doclen_quantiles(spark, state, [0.5, 0.99])
    lens = cs.read_corpus(spark, base).select(
        F.length("text").cast("long").alias("v")
    )
    want_q = {
        float(r["prob"]): int(r["est"])
        for r in SK.qhist_quantiles(
            SK.qhist_state(lens, "v"), [0.5, 0.99]
        ).collect()
    }
    assert got_q == want_q

    # sweep (update rows) -> loud epoch rebuild, state tracks live
    sw = cs.substr_sweep(spark, base, window=8)
    if sw["n_stripped"]:
        s = cdc.qhist_sync(spark, base, state)
        assert s.get("rebuilt") is True
        assert got_state() == batch_state()

    # retention: vacuum past checkpoint -> loud -> resync recovers
    cs.ingest(spark, base, spark.createDataFrame(
        [(30, filler("c30", 40), "en", "web")], COLS))
    cs.ingest(spark, base, spark.createDataFrame(
        [(31, filler("c31", 41), "en", "web")], COLS))
    Mf.vacuum(base, keep_last=1, min_age_s=0.0)
    with _pytest.raises(RuntimeError, match="qhist_resync"):
        cdc.qhist_sync(spark, base, state)
    cdc.qhist_resync(spark, base, state)
    assert got_state() == batch_state()


def test_qhist_sync_vanished_pre_delete_file_fails_loud(
    spark, tmp_path, monkeypatch
):
    """A delete's decrement reads the deleted docs from the pre-delete
    snapshot (version v-1). When a data file of that snapshot is gone,
    qhist_sync raises the RuntimeError that names qhist_resync; any
    other error from the read propagates unchanged."""
    from block_explorer_spark.sources import cdc_consumer as cdc
    from block_explorer_spark.sources import manifest as Mf

    base = str(tmp_path / "corpus")
    state = str(tmp_path / "qh")
    COLS = ["doc_id", "text", "lang", "source"]
    rows = [
        (i, " ".join(f"a{i}w{j}" for j in range(25 + i)), "en", "web")
        for i in range(1, 6)
    ]
    cs.ingest(spark, base, spark.createDataFrame(rows, COLS))
    cdc.qhist_sync(spark, base, state)
    cs.delete_where(spark, base, F.col("doc_id") == 2)
    v = Mf.current_version(base)
    replaced = sorted(
        set(Mf.read_at(base, v - 1)["families"]["docs"])
        - set(Mf.read(base)["families"]["docs"])
    )
    assert replaced
    for rel in replaced:
        os.remove(os.path.join(base, rel))
    with pytest.raises(RuntimeError, match="qhist_resync"):
        cdc.qhist_sync(spark, base, state)

    def broken_read(*args, **kwargs):
        raise TypeError("broken read")

    monkeypatch.setattr(cs, "read_docs_by_ids", broken_read)
    with pytest.raises(TypeError) as err:
        cdc.qhist_sync(spark, base, state)
    assert type(err.value) is TypeError and str(err.value) == "broken read"


@pytest.mark.slow
def test_index_sync_tracks_corpus_through_deletes(spark, tmp_path):
    """The crawl→curate→search loop: the postings index follows the
    corpus change feed (inserts via append, deletes via tombstones),
    and at every checkpoint serves EXACTLY what a from-scratch build
    over the live corpus would — scores and corpus totals both."""
    from block_explorer_spark.operators import retrieval as R
    from block_explorer_spark.sources import cdc_consumer as CC
    from block_explorer_spark.sources import manifest as M

    rows = [
        (i, f"spark data w{i % 9} {'needle' if i % 5 == 0 else 'hay'} x{i}",
         "en" if i % 4 else "de", "s")
        for i in range(40)
    ]
    rows.append((100, rows[3][1], "en", "s"))  # exact word-set dup -> dropped
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    cb, ib = str(tmp_path / "corpus"), str(tmp_path / "idx")
    R.write_postings_index(
        spark.createDataFrame([], "doc_id long, text string"), ib, num_files=1
    )

    def _assert_lockstep():
        live = cs.read_corpus(spark, cb).select("doc_id", "text")
        ref = str(tmp_path / f"ref{M.current_version(ib)}")
        R.write_postings_index(live, ref, num_files=2)
        a = [tuple(r) for r in R.bm25_search_indexed(
            spark, ib, ["needle", "spark"], topk=10).collect()]
        b = [tuple(r) for r in R.bm25_search_indexed(
            spark, ref, ["needle", "spark"], topk=10).collect()]
        assert a == b and a
        m1 = M.read(ib)["meta"]["bm25"]
        m2 = M.read(ref)["meta"]["bm25"]
        assert (m1["n"], m1["sum_dl"]) == (m2["n"], m2["sum_dl"])

    cs.ingest(spark, cb, docs.filter(F.col("doc_id") < 20),
              min_tokens=1, max_dup_word_frac=1.0)
    r1 = CC.index_sync(spark, cb, ib)
    assert r1["n_inserts"] == 20 and r1["n_deletes"] == 0
    _assert_lockstep()

    cs.ingest(spark, cb, docs.filter(F.col("doc_id") >= 20),
              min_tokens=1, max_dup_word_frac=1.0)
    cs.delete_where(spark, cb, F.col("lang") == "de")
    r2 = CC.index_sync(spark, cb, ib)
    assert r2["n_deletes"] == 10  # the de docs ingested in round 1+2
    _assert_lockstep()

    # idempotent catch-up: nothing moved, watermark holds
    r3 = CC.index_sync(spark, cb, ib)
    assert r3 == {"n_inserts": 0, "n_deletes": 0,
                  "version": r2["version"]}


def test_index_sync_crash_replay_is_exactly_once(spark, tmp_path):
    """A sync that crashed between its delete commit and its append
    commit replays the window without double-applying: re-deletes are
    no-ops, and the append (which carries the watermark) lands once."""
    from block_explorer_spark.operators import retrieval as R
    from block_explorer_spark.sources import cdc_consumer as CC
    from block_explorer_spark.sources import manifest as M

    docs = spark.createDataFrame(
        [(i, f"tok{i} needle common", "en", "s") for i in range(12)],
        "doc_id long, text string, lang string, source string",
    )
    cb, ib = str(tmp_path / "corpus"), str(tmp_path / "idx")
    R.write_postings_index(
        spark.createDataFrame([], "doc_id long, text string"), ib, num_files=1
    )
    cs.ingest(spark, cb, docs.filter(F.col("doc_id") < 6),
              min_tokens=1, max_dup_word_frac=1.0)
    CC.index_sync(spark, cb, ib)
    cs.delete_where(spark, cb, F.col("doc_id") < 2)
    cs.ingest(spark, cb, docs.filter(F.col("doc_id") >= 6),
              min_tokens=1, max_dup_word_frac=1.0)
    # simulate the crash window: apply the deletes WITHOUT a watermark
    # (exactly what index_sync does before its append), then run the
    # full sync as the post-crash replay
    dels = spark.createDataFrame([(0,), (1,)], "doc_id long")
    assert R.index_delete(spark, ib, dels) is not None
    n_before = M.read(ib)["meta"]["bm25"]["n"]
    r = CC.index_sync(spark, cb, ib)
    assert r["n_deletes"] == 2 and r["n_inserts"] == 6
    m = M.read(ib)["meta"]["bm25"]
    # 6 first-batch docs - 2 deleted + 6 appended; the replayed
    # delete decremented nothing the crash window already paid
    assert m["n"] == n_before + 6 == 10
    got = {r_["doc_id"] for r_ in R.bm25_search_indexed(
        spark, ib, ["needle"], topk=20).collect()}
    assert got == set(range(2, 12))


def test_index_sync_rejects_updates_loudly(spark, tmp_path):
    from block_explorer_spark.operators import retrieval as R
    from block_explorer_spark.sources import cdc_consumer as CC

    docs = spark.createDataFrame(
        [(i, f"unique{i} spark data needle filler{i} pad{i}", "en", "s")
         for i in range(8)],
        "doc_id long, text string, lang string, source string",
    )
    cb, ib = str(tmp_path / "corpus"), str(tmp_path / "idx")
    R.write_postings_index(
        spark.createDataFrame([], "doc_id long, text string"), ib, num_files=1
    )
    cs.ingest(spark, cb, docs, min_tokens=1, max_dup_word_frac=1.0)
    CC.index_sync(spark, cb, ib)
    # substr_sweep stages in-place UPDATE rows — the append-only
    # index cannot absorb them silently
    cs.substr_sweep(spark, cb, window=3, min_tokens=1)
    import pytest as _pt

    with _pt.raises(RuntimeError, match="update"):
        CC.index_sync(spark, cb, ib)
