"""BM25 retrieval: hand-computed scores on a tiny corpus, ranking
sanity, query-scoped index pruning, and plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from block_explorer_spark.operators import retrieval as R


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark joins data with spark"),
        (2, "data data data"),
        (3, "spark only"),
        (4, "nothing relevant here"),
        (5, "spark data spark data spark data"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bm25_by_hand(corpus_rows, terms, k1=1.2, b=0.75):
    docs = {i: t.lower().split() for i, t in corpus_rows}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    dfs = {t: sum(1 for toks in docs.values() if t in toks) for t in terms}
    idf = {t: math.log(1.0 + (n - df + 0.5) / (df + 0.5)) for t, df in dfs.items()}
    out = {}
    for i, toks in docs.items():
        s = 0.0
        for t in terms:
            tf = float(toks.count(t))
            norm = k1 * ((1 - b) + b * len(toks) / avgdl)
            s = s + idf[t] * (tf * (k1 + 1.0) / (tf + norm))
        if any(t in toks for t in terms):
            out[i] = s
    return out


def _layout_without_dl(fresh, base):
    """Rewrite the index at `fresh` into the layout an earlier round
    wrote before dl rode in the postings: (token, doc_id, tf) files
    beside the doclen family, no termmax family. The writers no longer
    produce it, so it is built from raw files and one manifest commit."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from block_explorer_spark.sources import manifest as M

    os.makedirs(os.path.join(base, "postings"))
    cur = M.read(fresh)
    rels = []
    for i, rel in enumerate(cur["families"]["postings"]):
        rels.append(f"postings/old-{i}.parquet")
        pq.write_table(
            pq.read_table(os.path.join(fresh, rel)).drop(["dl"]),
            os.path.join(base, rels[-1]),
        )
    os.makedirs(os.path.join(base, "doclen"))
    dl = "doclen/old-0.parquet"
    pq.write_table(
        pa.concat_tables(
            pq.read_table(os.path.join(fresh, r))
            for r in cur["families"]["doclen"]
        ),
        os.path.join(base, dl),
    )
    bm25 = dict(cur["meta"]["bm25"], dl_in_postings=False)
    M.commit(
        base, {"postings": rels, "doclen": [dl]}, 0,
        meta={"bm25": bm25}, stats=M.file_stats(base, rels, ["token"]),
    )


def test_scores_match_hand_computation(spark, corpus):
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    want = _bm25_by_hand(rows, ["spark", "data"])
    got = {
        r["doc_id"]: r["score"]
        for r in R.bm25_topk(corpus, ["spark", "data"], topk=10).collect()
    }
    assert set(got) == set(want)  # doc 4 (no match) excluded
    for i in want:
        assert got[i] == pytest.approx(want[i], abs=1e-12), i


def test_ranking_prefers_tf_and_rarity(spark, corpus):
    top = R.bm25_topk(corpus, ["spark", "data"], topk=3).collect()
    assert top[0]["doc_id"] == 5  # most occurrences of both terms
    # a rare term outranks a common one at equal tf
    rare = R.bm25_topk(corpus, ["only"], topk=1).collect()
    assert rare[0]["doc_id"] == 3


def test_query_scoped_index_only_keeps_matching_postings(spark, corpus):
    idx = R.inverted_index(corpus, terms=["spark"])
    rows = idx.collect()
    assert {r["token"] for r in rows} == {"spark"}
    assert {r["doc_id"]: r["tf"] for r in rows} == {1: 2, 3: 1, 5: 3}


def test_full_index_round_trips_tf(spark, corpus):
    idx = R.inverted_index(corpus)
    got = {
        (r["token"], r["doc_id"]): r["tf"]
        for r in idx.filter(F.col("doc_id") == 2).collect()
    }
    assert got == {("data", 2): 3}


def test_plan_topk_no_global_sort(spark, corpus):
    df = R.bm25_topk(corpus, ["spark", "data"], topk=3)
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in text
    assert "CartesianProduct" not in text


def test_empty_terms_rejected(spark, corpus):
    with pytest.raises(ValueError):
        R.bm25_topk(corpus, [])


class TestPhraseMatch:
    def test_overlapping_occurrences_counted(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b a"), (2, "a a a"), (3, "b b"), (4, "a")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["n_occurrences"]
            for r in R.phrase_match(df, ["a", "b"]).collect()
        }
        assert got == {1: 2}
        got2 = {
            r["doc_id"]: r["n_occurrences"]
            for r in R.phrase_match(df, ["a", "a"]).collect()
        }
        assert got2 == {2: 2}  # overlapping: positions 0-1 and 1-2

    def test_three_word_phrase(self, spark):
        df = spark.createDataFrame(
            [(1, "x y z x y z"), (2, "x y x z")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["n_occurrences"]
            for r in R.phrase_match(df, ["x", "y", "z"]).collect()
        }
        assert got == {1: 2}

    def test_short_phrase_rejected(self, spark):
        import pytest as _pt

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pt.raises(ValueError):
            R.phrase_match(df, ["a"])

    def test_postings_filtered_before_shuffle(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g h")], "doc_id long, text string"
        )
        idx = R.positional_index(df, terms=["a", "b"])
        assert sorted((r["token"], r["pos"]) for r in idx.collect()) == [
            ("a", 0), ("b", 1)
        ]


class TestProximityMatch:
    def test_window_semantics(self, spark):
        df = spark.createDataFrame(
            [(1, "a x x x b"), (2, "a x x x x x b"), (3, "b a"), (4, "a")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["n_pairs"]
            for r in R.proximity_match(df, "a", "b", window=4).collect()
        }
        assert got == {1: 1, 3: 1}  # doc 2: distance 6 > 4; unordered ok

    def test_same_term_counts_ordered_pairs(self, spark):
        df = spark.createDataFrame([(1, "a a a")], "doc_id long, text string")
        got = R.proximity_match(df, "a", "a", window=1).collect()
        # ordered pairs at distance 1: (0,1),(1,0),(1,2),(2,1)
        assert got[0]["n_pairs"] == 4

    def test_bad_window_rejected(self, spark):
        import pytest as _pt

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with _pt.raises(ValueError):
            R.proximity_match(df, "a", "b", window=0)


class TestPostingsIndex:
    def test_indexed_scores_equal_batch_bit_for_bit(self, spark, tmp_path, corpus):
        base = str(tmp_path / "bmidx")
        R.write_postings_index(corpus, base, num_files=4)
        terms = ["spark", "data"]
        batch = {(r["doc_id"], r["score"])
                 for r in R.bm25_topk(corpus, terms, topk=10).collect()}
        idx = {(r["doc_id"], r["score"])
               for r in R.bm25_search_indexed(spark, base, terms, topk=10).collect()}
        assert idx == batch and idx

    def test_term_pruning_opens_fewer_files(self, spark, tmp_path):
        from block_explorer_spark.sources import manifest as M

        docs = spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("w"), (F.col("id") % 500).cast("string"), F.lit(" filler")
            ).alias("text"),
        )
        base = str(tmp_path / "bmprune")
        R.write_postings_index(docs, base, num_files=16)
        m = M.read(base)
        total = len(m["families"]["postings"])
        kept = M.prune_by_stats(m, "postings", "token", lo="w123", hi="w123")
        assert total == 16
        assert len(kept) <= 2, kept  # token-sorted layout: 1-2 files
        got = R.bm25_search_indexed(spark, base, ["w123"], topk=5).collect()
        # w123 lives in docs 123+500k; equal scores tie-break by doc_id
        assert [r["doc_id"] for r in got] == [123, 623, 1123, 1623]

    def test_missing_term_and_missing_index(self, spark, tmp_path, corpus):
        import pytest as _pt

        base = str(tmp_path / "bmidx2")
        R.write_postings_index(corpus, base, num_files=2)
        out = R.bm25_search_indexed(spark, base, ["absentterm"], topk=5)
        assert out.count() == 0
        with _pt.raises(FileNotFoundError):
            R.bm25_search_indexed(spark, str(tmp_path / "nope"), ["x"])
        with _pt.raises(ValueError):
            R.bm25_search_indexed(spark, base, [])


class TestIncrementalIndex:
    def _docs(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("w"), (F.col("id") % 97).cast("string"),
                F.lit(" common filler w"), (F.col("id") % 13).cast("string"),
            ).alias("text"),
        )

    def test_append_built_index_serves_full_corpus_scores(self, spark, tmp_path):
        """write_postings_index on 60% of the corpus + index_append of
        the remaining 40% must serve scores bit-identical to the batch
        BM25 over the FULL corpus (n / Σdl fold exactly)."""
        base = str(tmp_path / "inc")
        full = self._docs(spark, 0, 1000)
        R.write_postings_index(self._docs(spark, 0, 600), base, num_files=8)
        R.index_append(self._docs(spark, 600, 1000), base, num_files=2)
        terms = ["w5", "w40"]
        batch = {(r["doc_id"], r["score"])
                 for r in R.bm25_topk(full, terms, topk=15).collect()}
        idx = {(r["doc_id"], r["score"])
               for r in R.bm25_search_indexed(spark, base, terms, topk=15).collect()}
        assert idx == batch and idx

    def test_append_cost_proportional_to_delta(self, spark, tmp_path):
        """No bulk postings file is rewritten by an append: the bulk
        relpaths survive verbatim and only the delta's files join the
        family (+ the tail list tracks them for maintenance)."""
        from block_explorer_spark.sources import manifest as M

        base = str(tmp_path / "delta")
        R.write_postings_index(self._docs(spark, 0, 800), base, num_files=8)
        bulk = set(M.read(base)["families"]["postings"])
        R.index_append(self._docs(spark, 800, 820), base, num_files=2)
        m = M.read(base)
        after = set(m["families"]["postings"])
        assert bulk <= after
        new = after - bulk
        assert 0 < len(new) <= 2
        assert set(m["meta"]["bm25"]["tail"]) == new

    def test_maintain_folds_tail_scores_identical(self, spark, tmp_path):
        from block_explorer_spark.sources import manifest as M

        base = str(tmp_path / "maint")
        R.write_postings_index(self._docs(spark, 0, 400), base, num_files=4)
        for s in range(4):
            R.index_append(
                self._docs(spark, 400 + s * 50, 400 + (s + 1) * 50),
                base, num_files=2,
            )
        assert R.index_maintain(spark, base, min_tail_files=9) is None
        before = {(r["doc_id"], r["score"]) for r in
                  R.bm25_search_indexed(spark, base, ["w5", "w40"]).collect()}
        n_before = len(M.read(base)["families"]["postings"])
        assert R.index_maintain(spark, base, min_tail_files=8) is not None
        m = M.read(base)
        assert m["meta"]["bm25"]["tail"] == []
        assert len(m["families"]["postings"]) < n_before
        after = {(r["doc_id"], r["score"]) for r in
                 R.bm25_search_indexed(spark, base, ["w5", "w40"]).collect()}
        assert after == before and after

    def test_racing_maintains_fold_the_tail_once(self, spark, tmp_path, monkeypatch):
        """Two index_maintain calls over the same two-file tail: the
        second commits while the first sits between its staging and
        its CAS. The first loses the CAS, replans from the winner's
        snapshot (no tail left) and commits nothing, so every posting
        is listed once and scores equal a single maintain's."""
        import os

        from block_explorer_spark.sources import manifest as M

        def build(base):
            R.write_postings_index(self._docs(spark, 0, 20), base, num_files=2)
            R.index_append(self._docs(spark, 20, 30), base, num_files=1)
            R.index_append(self._docs(spark, 30, 40), base, num_files=1)

        def postings_rows(base):
            rels = M.read(base)["families"]["postings"]
            return spark.read.parquet(*[os.path.join(base, r) for r in rels]).count()

        def scores(base):
            hits = R.bm25_search_indexed(spark, base, ["w5", "w3", "common"], topk=40)
            return [(r["doc_id"], r["score"]) for r in hits.collect()]

        once = str(tmp_path / "once")
        build(once)
        assert R.index_maintain(spark, once, min_tail_files=2) is not None

        raced = str(tmp_path / "raced")
        build(raced)
        real_file_stats = M.file_stats
        calls, rival = [], []

        def file_stats_after_rival(*a, **kw):
            calls.append(1)
            if len(calls) == 1:  # the first maintain has staged: race it
                rival.append(R.index_maintain(spark, raced, min_tail_files=2))
            return real_file_stats(*a, **kw)

        monkeypatch.setattr(M, "file_stats", file_stats_after_rival)
        loser = R.index_maintain(spark, raced, min_tail_files=2)
        monkeypatch.setattr(M, "file_stats", real_file_stats)
        assert rival[0] is not None
        assert postings_rows(raced) == postings_rows(once)
        assert scores(raced) == scores(once)
        assert loser is None
        assert M.unmanifested_files(raced, ["postings", "doclen", R.TERMMAX]) == {}

    def test_denormalized_serving_plan_has_no_join(self, spark, tmp_path):
        """dl rides in the posting rows, so the serving plan is scan →
        pivot-aggregate → top-k: zero joins for ANY term df — the
        unbounded matched-doc broadcast cannot exist."""
        base = str(tmp_path / "nojoin")
        R.write_postings_index(self._docs(spark, 0, 500), base, num_files=4)
        df = R.bm25_search_indexed(spark, base, ["common"], topk=5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan

    def test_legacy_layout_bounds_the_broadcast(self, spark, tmp_path):
        """Pre-denormalization layout: the doc-length join (and the
        broadcast it needed bounded) is gone, so the reader raises
        naming migrate; after migrate a corpus-wide term is served
        with no join at all and the fresh index's scores."""
        fresh = str(tmp_path / "fresh")
        R.write_postings_index(self._docs(spark, 0, 500), fresh, num_files=4)
        base = str(tmp_path / "legacy")
        _layout_without_dl(fresh, base)
        with pytest.raises(RuntimeError, match=r"retrieval\.migrate"):
            R.bm25_search_indexed(spark, base, ["common"], topk=5)
        R.migrate(spark, base)
        got = R.bm25_search_indexed(spark, base, ["common"], topk=5)
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, plan
        want = R.bm25_search_indexed(spark, fresh, ["common"], topk=5)
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ]

    def test_index_commit_preserves_foreign_meta(self, spark, tmp_path):
        """A postings index committed into a base that already holds a
        z-order layout must not clobber meta['zorder'] (and the
        reverse) — the writers merge, never replace."""
        from block_explorer_spark.operators import zorder as Z
        from block_explorer_spark.sources import manifest as M

        base = str(tmp_path / "shared")
        ev = spark.range(200).select(
            F.col("id"), (F.col("id") % 16).alias("a"), (F.col("id") % 7).alias("b")
        )
        Z.cluster_write(ev, base, "events_z", ["a", "b"], bits=6, num_files=4)
        R.write_postings_index(self._docs(spark, 0, 100), base, num_files=2)
        m = M.read(base)
        assert "events_z" in m["meta"]["zorder"]
        assert m["meta"]["bm25"]["n"] == 100
        Z.cluster_write(ev, base, "events_y", ["a"], bits=6, num_files=1)
        m2 = M.read(base)
        assert m2["meta"]["bm25"]["n"] == 100  # zorder writer kept bm25 meta
        assert set(m2["meta"]["zorder"]) == {"events_z", "events_y"}


class TestMaxScore:
    """Exact top-k with MaxScore pruning: bit-identical to the full
    indexed evaluation, with the stopword's postings kept out of the
    pivot whenever the rare terms can fill the top-k."""

    TERMS = ["needle", "gem", "the"]

    def _corpus(self, spark):
        # 600 docs, every one carries the stopword; 50 carry "needle",
        # 50 carry "gem", with varying tf and lengths — deterministic.
        rows = []
        for i in range(600):
            toks = ["the"] * (1 + i % 3) + [f"w{i % 97}"] * (1 + i % 5)
            if i < 50:
                toks += ["needle"] * (1 + i % 4)
            elif i < 100:
                toks += ["gem"] * (1 + i % 3)
            rows.append((i, " ".join(toks)))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _base(self, spark, tmp_path, **kw):
        base = str(tmp_path / "msidx")
        R.write_postings_index(self._corpus(spark), base, num_files=8, **kw)
        return base

    def test_pruned_query_bit_identical_and_stopword_nonessential(
        self, spark, tmp_path
    ):
        base = self._base(spark, tmp_path)
        full = R.bm25_search_indexed(spark, base, self.TERMS, topk=10).collect()
        ex: dict = {}
        ms = R.bm25_search_maxscore(
            spark, base, self.TERMS, topk=10, explain=ex
        ).collect()
        assert [(r["doc_id"], r["score"]) for r in full] == [
            (r["doc_id"], r["score"]) for r in ms
        ]
        assert ex["pruned"] is True
        assert "the" in ex["nonessential"]
        assert set(ex["essential"]) == {"needle", "gem"}
        # the work bound pruning buys: essential postings ≪ matched
        ess = sum(ex["dfs"][t] for t in ex["essential"])
        assert ess * 5 <= sum(ex["dfs"].values())

    def test_no_pruning_when_stopword_fills_topk(self, spark, tmp_path):
        """topk larger than the rare coverage: θ lands below the
        stopword's upper bound, pruning correctly refuses, results
        still match the full path exactly."""
        base = self._base(spark, tmp_path)
        full = R.bm25_search_indexed(spark, base, self.TERMS, topk=200).collect()
        ex: dict = {}
        ms = R.bm25_search_maxscore(
            spark, base, self.TERMS, topk=200, explain=ex
        ).collect()
        assert [(r["doc_id"], r["score"]) for r in full] == [
            (r["doc_id"], r["score"]) for r in ms
        ]
        assert ex["pruned"] is False

    def test_termmax_family_tightens_static_bound(self, spark, tmp_path):
        base = self._base(spark, tmp_path)
        ex: dict = {}
        R.bm25_search_maxscore(
            spark, base, self.TERMS, topk=10, explain=ex
        ).collect()
        idf = R.idf_weights(600, ex["dfs"])
        for t in self.TERMS:
            static = idf[t] * (1.2 + 1.0)
            assert ex["ub"][t] < static, t

    def test_append_then_maxscore_still_exact(self, spark, tmp_path):
        base = self._base(spark, tmp_path)
        delta = spark.createDataFrame(
            [(1000 + i, "needle fresh the") for i in range(30)],
            "doc_id long, text string",
        )
        R.index_append(delta, base)
        full = R.bm25_search_indexed(spark, base, self.TERMS, topk=15).collect()
        ex: dict = {}
        ms = R.bm25_search_maxscore(
            spark, base, self.TERMS, topk=15, explain=ex
        ).collect()
        assert [(r["doc_id"], r["score"]) for r in full] == [
            (r["doc_id"], r["score"]) for r in ms
        ]
        assert ex["pruned"] is True

    def test_legacy_layout_delegates_to_indexed(self, spark, tmp_path):
        """MaxScore no longer delegates to the unpruned scorer on the
        pre-denormalization layout: it raises naming migrate, and after
        migrate its pruned answer equals the full indexed one."""
        fresh = self._base(spark, tmp_path)
        base = str(tmp_path / "legacy")
        _layout_without_dl(fresh, base)
        with pytest.raises(RuntimeError, match=r"retrieval\.migrate"):
            R.bm25_search_maxscore(spark, base, self.TERMS, topk=10)
        R.migrate(spark, base)
        full = R.bm25_search_indexed(spark, base, self.TERMS, topk=10).collect()
        ms = R.bm25_search_maxscore(spark, base, self.TERMS, topk=10).collect()
        assert [tuple(r) for r in full] == [tuple(r) for r in ms]

    def test_absent_term_and_empty_terms(self, spark, tmp_path):
        base = self._base(spark, tmp_path)
        assert (
            R.bm25_search_maxscore(spark, base, ["zzz_missing"], topk=5).count()
            == 0
        )
        with pytest.raises(ValueError):
            R.bm25_search_maxscore(spark, base, [], topk=5)

    def test_candidate_join_broadcasts_small_essential_set(
        self, spark, tmp_path
    ):
        """The final scoring's semi-join against the candidate set is
        a broadcast while Σdf_essential is bounded — the stopword's
        postings meet only a broadcast hash join, never a shuffle."""
        base = self._base(spark, tmp_path)
        ms = R.bm25_search_maxscore(spark, base, self.TERMS, topk=10)
        plan = ms._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" in plan, plan


class TestMigrate:
    """`migrate` brings each old index shape forward in ONE commit;
    before it every bm25 reader and writer raises naming it, after it
    the index answers bit-identically to a freshly written one. The
    writers no longer produce old shapes, so the tests build them from
    raw files and `Mf.commit`."""

    TERMS = TestMaxScore.TERMS
    MANY = {"qa": ["needle", "the"], "qb": ["gem"]}

    def _corpus(self, spark):
        return TestMaxScore()._corpus(spark)

    def _answers(self, spark, base):
        return (
            [tuple(r) for r in R.bm25_search_indexed(spark, base, self.TERMS, topk=10).collect()],
            [tuple(r) for r in R.bm25_search_maxscore(spark, base, self.TERMS, topk=10).collect()],
            [tuple(r) for r in R.bm25_search_many(spark, base, self.MANY, topk=5).collect()],
        )

    def _extremes(self, spark, base):
        import os

        from block_explorer_spark.sources import manifest as M

        rels = M.read(base)["families"][R.TERMMAX]
        return {
            tuple(r)
            for r in spark.read.parquet(*[os.path.join(base, x) for x in rels])
            .groupBy("token")
            .agg(F.max("max_tf"), F.min("min_dl"))
            .collect()
        }

    def _check(self, spark, base, fresh):
        """Readers and the appender raise naming migrate; migrate
        commits one version, a second commits nothing; then every
        serving path equals the fresh index bit for bit."""
        from block_explorer_spark.sources import manifest as M

        for read in (
            lambda: R.bm25_search_indexed(spark, base, self.TERMS),
            lambda: R.bm25_search_maxscore(spark, base, self.TERMS),
            lambda: R.bm25_search_many(spark, base, self.MANY),
            lambda: R.bm25_search(spark, base, self.TERMS),
            lambda: R.index_append(self._corpus(spark).limit(1), base),
        ):
            with pytest.raises(RuntimeError, match=r"retrieval\.migrate"):
                read()
        v0 = M.current_version(base)
        assert R.migrate(spark, base) == v0 + 1
        assert R.migrate(spark, base) is None
        assert M.current_version(base) == v0 + 1
        assert self._answers(spark, base) == self._answers(spark, fresh)
        assert self._extremes(spark, base) == self._extremes(spark, fresh)

    def _fresh(self, spark, tmp_path):
        fresh = str(tmp_path / "fresh")
        R.write_postings_index(self._corpus(spark), fresh, num_files=4)
        return fresh

    def test_postings_without_dl(self, spark, tmp_path):
        """The layout before dl rode in the postings: (token, doc_id,
        tf) files beside the doclen family, no termmax family. The
        readers used to join doclen (broadcast up to a limit) and
        MaxScore delegated to the unpruned scorer; now they raise,
        and migrate adds dl with one doclen join."""
        from block_explorer_spark.sources import manifest as M

        fresh = self._fresh(spark, tmp_path)
        base = str(tmp_path / "old")
        _layout_without_dl(fresh, base)
        self._check(spark, base, fresh)
        assert M.read(base)["meta"]["bm25"]["dl_in_postings"] is True

    def test_index_without_termmax(self, spark, tmp_path):
        """An index committed before the termmax family existed: dl is
        in the postings, but MaxScore had only the static bound. Now
        it raises; migrate folds the extremes from the postings."""
        import os
        import shutil

        from block_explorer_spark.sources import manifest as M

        fresh = self._fresh(spark, tmp_path)
        base = str(tmp_path / "old")
        shutil.copytree(fresh, base)
        cur = M.read(base)
        fams = {k: v for k, v in cur["families"].items() if k != R.TERMMAX}
        M.commit(base, fams, cur["version"], meta=dict(cur["meta"]))
        assert os.path.isdir(os.path.join(base, R.TERMMAX))
        self._check(spark, base, fresh)


class TestServingPolicy:
    def test_auto_dispatch_both_sides_exact(self, spark, tmp_path):
        """auto picks full below the postings threshold and maxscore
        above it (forced via threshold=0) — identical results."""
        base = str(tmp_path / "idx")
        rows = [
            (i, ("stop " * (1 + i % 3)) + (f"rare{i % 40} " if i % 10 == 0 else "w ")
             + f"f{i % 31}")
            for i in range(800)
        ]
        R.write_postings_index(
            spark.createDataFrame(rows, "doc_id long, text string"),
            base, num_files=4,
        )
        terms = ["rare3", "stop"]
        want = R.bm25_search_indexed(spark, base, terms, topk=8).collect()
        ex: dict = {}
        got_full = R.bm25_search(spark, base, terms, topk=8, explain=ex).collect()
        assert ex["strategy"] == "full" and ex["matched_postings"] > 0
        ex2: dict = {}
        got_ms = R.bm25_search(
            spark, base, terms, topk=8, maxscore_min_postings=0, explain=ex2
        ).collect()
        assert ex2["strategy"] == "maxscore"
        key = lambda rs: [(r["doc_id"], r["score"]) for r in rs]
        assert key(want) == key(got_full) == key(got_ms)
        with pytest.raises(ValueError):
            R.bm25_search(spark, base, terms, strategy="wand")


class TestHybrid:
    """RRF fusion: hand-checkable rank arithmetic, degenerate and
    disjoint inputs."""

    def test_matches_hand_fusion(self, spark):
        a = spark.createDataFrame(
            [(10, 1), (11, 2), (12, 3)], "id long, rank long"
        )
        b = spark.createDataFrame(
            [(11, 1), (12, 2), (13, 3)], "id long, rank long"
        )
        got = {
            r["id"]: r["rrf_score"]
            for r in R.rrf_fuse([a, b], rrf_k=60, topk=10).collect()
        }
        want = {
            10: 1.0 / 61,
            11: 1.0 / 62 + 1.0 / 61,
            12: 1.0 / 63 + 1.0 / 62,
            13: 1.0 / 63,
        }
        assert set(got) == set(want)
        for i in want:
            assert got[i] == pytest.approx(want[i], abs=1e-15), i
        order = [
            r["id"] for r in R.rrf_fuse([a, b], rrf_k=60, topk=10).collect()
        ]
        assert order[0] == 11 and order[1] == 12  # two-list docs first

    def test_single_source_is_rank_order(self, spark):
        a = spark.createDataFrame(
            [(5, 1), (9, 2), (7, 3)], "id long, rank long"
        )
        out = [r["id"] for r in R.rrf_fuse([a], topk=3).collect()]
        assert out == [5, 9, 7]

    def test_disjoint_ids_both_survive(self, spark):
        a = spark.createDataFrame([(1, 1)], "id long, rank long")
        b = spark.createDataFrame([(2, 1)], "id long, rank long")
        out = R.rrf_fuse([a, b], topk=5).collect()
        assert sorted(r["id"] for r in out) == [1, 2]
        # equal scores -> id tie-break
        assert [r["id"] for r in out] == [1, 2]
        with pytest.raises(ValueError):
            R.rrf_fuse([])


class TestManyQueries:
    """Batch multi-query BM25: one pass == N single-query evaluations
    bit-for-bit (fold order = token-ascending = the sorted single
    query's pivot order; absent-term additions are exact 0.0)."""

    def test_matches_single_query_results(self, spark, corpus):
        qs = {
            "qa": ["data", "spark"],
            "qb": ["only", "spark"],
            "qc": ["data"],
        }
        out = R.bm25_topk_many(corpus, qs, topk=5).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, terms in qs.items():
            want = [
                (r["doc_id"], r["score"])
                for r in R.bm25_topk(corpus, sorted(terms), topk=5).collect()
            ]
            assert by_q.get(qid, []) == want, qid

    def test_shared_terms_fan_out_once(self, spark, corpus):
        # both queries contain "spark": same doc scores both sides
        out = R.bm25_topk_many(
            corpus, {"a": ["spark"], "b": ["spark"]}, topk=3
        ).collect()
        a = [(r["doc_id"], r["score"]) for r in out if r["query_id"] == "a"]
        b = [(r["doc_id"], r["score"]) for r in out if r["query_id"] == "b"]
        assert a == b and len(a) == 3

    def test_rejects_empty(self, spark, corpus):
        with pytest.raises(ValueError):
            R.bm25_topk_many(corpus, {})
        with pytest.raises(ValueError):
            R.bm25_topk_many(corpus, {"q": []})

    def test_indexed_many_matches_batch_many(self, spark, corpus, tmp_path):
        base = str(tmp_path / "manyidx")
        R.write_postings_index(corpus, base, num_files=2)
        qs = {"qa": ["data", "spark"], "qb": ["only"]}
        want = R.bm25_topk_many(corpus, qs, topk=5).collect()
        got = R.bm25_search_many(spark, base, qs, topk=5).collect()
        assert [tuple(r) for r in want] == [tuple(r) for r in got]

    def test_indexed_many_requires_denormalized(self, spark, corpus, tmp_path):
        fresh = str(tmp_path / "fresh2")
        R.write_postings_index(corpus, fresh, num_files=2)
        base = str(tmp_path / "legacy2")
        _layout_without_dl(fresh, base)
        with pytest.raises(RuntimeError, match="dl in the postings"):
            R.bm25_search_many(spark, base, {"q": ["data"]})


class TestPositionalIndex:
    """Persisted positional family: phrase/proximity served from the
    index must equal the batch scan row for row, prune by token zone,
    and survive the append → maintain lifecycle."""

    def _docs(self, spark):
        rows = [
            (1, "spark joins data with spark joins"),
            (2, "data data batch batch batch"),
            (3, "spark only joins"),
            (4, "nothing relevant here batch batch"),
            (5, "spark data spark join"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_indexed_phrase_equals_batch(self, spark, tmp_path):
        docs = self._docs(spark)
        base = str(tmp_path / "pos1")
        R.write_postings_index(docs, base, num_files=4, positions=True)
        batch = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in R.phrase_match(docs, ["batch", "batch"]).collect()
        )
        idx = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in R.phrase_search_indexed(spark, base, ["batch", "batch"]).collect()
        )
        assert idx == batch == [(2, 2), (4, 1)]

    def test_indexed_proximity_equals_batch(self, spark, tmp_path):
        docs = self._docs(spark)
        base = str(tmp_path / "pos2")
        R.write_postings_index(docs, base, num_files=4, positions=True)
        batch = sorted(
            (r["doc_id"], r["n_pairs"])
            for r in R.proximity_match(docs, "spark", "joins", window=3).collect()
        )
        idx = sorted(
            (r["doc_id"], r["n_pairs"])
            for r in R.proximity_search_indexed(
                spark, base, "spark", "joins", window=3
            ).collect()
        )
        assert idx == batch and idx

    def test_append_then_maintain_still_identical(self, spark, tmp_path):
        docs = self._docs(spark)
        base = str(tmp_path / "pos3")
        R.write_postings_index(docs, base, num_files=2, positions=True)
        more = spark.createDataFrame(
            [(6, "batch batch batch spark"), (7, "spark joins")],
            "doc_id long, text string",
        )
        R.index_append(more, base, num_files=1)
        from block_explorer_spark.sources import manifest as M

        assert M.read(base)["meta"]["bm25"]["ptail"]  # tail recorded
        alldocs = docs.union(more)
        want = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in R.phrase_match(alldocs, ["batch", "batch"]).collect()
        )
        got = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in R.phrase_search_indexed(spark, base, ["batch", "batch"]).collect()
        )
        assert got == want
        assert R.index_maintain(spark, base, min_tail_files=1) is not None
        m = M.read(base)
        assert m["meta"]["bm25"]["ptail"] == []  # tail folded
        after = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in R.phrase_search_indexed(spark, base, ["batch", "batch"]).collect()
        )
        assert after == want

    def test_phrase_zone_pruning_opens_fewer_files(self, spark, tmp_path):
        from block_explorer_spark.sources import manifest as M

        docs = spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("w"), (F.col("id") % 500).cast("string"),
                F.lit(" w"), (F.col("id") % 500).cast("string"),
            ).alias("text"),
        )
        base = str(tmp_path / "posprune")
        R.write_postings_index(docs, base, num_files=16, positions=True)
        m = M.read(base)
        total = len(m["families"][R.POSITIONS])
        kept = M.prune_by_stats(m, R.POSITIONS, "token", lo="w123", hi="w123")
        assert total == 16
        assert len(kept) <= 2, kept
        got = R.phrase_search_indexed(spark, base, ["w123", "w123"]).collect()
        assert sorted(r["doc_id"] for r in got) == [123, 623, 1123, 1623]

    def test_missing_family_and_bad_phrase(self, spark, tmp_path):
        docs = self._docs(spark)
        base = str(tmp_path / "nopos")
        R.write_postings_index(docs, base, num_files=2)  # no positions
        with pytest.raises(FileNotFoundError):
            R.phrase_search_indexed(spark, base, ["batch", "batch"])
        base2 = str(tmp_path / "pos4")
        R.write_postings_index(docs, base2, num_files=2, positions=True)
        with pytest.raises(ValueError):
            R.phrase_search_indexed(spark, base2, ["batch"])
        # absent term: empty result, no error
        assert R.phrase_search_indexed(spark, base2, ["zz", "zz"]).count() == 0


class TestVocabPrefix:
    def test_matches_recomputed_vocab(self, spark, tmp_path):
        rows = [
            (1, "spark joins data with spark joins"),
            (2, "data data batch batch batch"),
            (3, "spark only joins"),
            (5, "spark data spark join"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        base = str(tmp_path / "vp1")
        R.write_postings_index(docs, base, num_files=4)
        got = {
            (r["token"], r["df"], r["cf"])
            for r in R.vocab_prefix(spark, base, "jo").collect()
        }
        assert got == {("joins", 2, 3), ("join", 1, 1)}
        # topk caps by df desc
        top = R.vocab_prefix(spark, base, "jo", topk=1).collect()
        assert [(r["token"], r["df"]) for r in top] == [("joins", 2)]

    def test_prefix_zone_pruning(self, spark, tmp_path):
        from block_explorer_spark.sources import manifest as M

        docs = spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("w"), (F.col("id") % 500).cast("string"), F.lit(" filler")
            ).alias("text"),
        )
        base = str(tmp_path / "vp2")
        R.write_postings_index(docs, base, num_files=16)
        m = M.read(base)
        kept = M.prune_by_stats(
            m, "postings", "token", lo="w49", hi="w49" + "\U0010ffff"
        )
        assert len(kept) < len(m["families"]["postings"])
        got = {r["token"] for r in R.vocab_prefix(spark, base, "w49").collect()}
        assert got == {"w49", "w490", "w491", "w492", "w493", "w494",
                       "w495", "w496", "w497", "w498", "w499"}

    def test_empty_and_absent_prefix(self, spark, tmp_path, corpus):
        base = str(tmp_path / "vp3")
        R.write_postings_index(corpus, base, num_files=2)
        with pytest.raises(ValueError):
            R.vocab_prefix(spark, base, "")
        assert R.vocab_prefix(spark, base, "zzz").count() == 0


class TestKwicSnippets:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "beta at start"),
                (3, "ends with beta"),
            ],
            "doc_id long, text string",
        )

    def test_edges_clamped_and_positions_exact(self, spark):
        docs = self._docs(spark)
        got = sorted(tuple(r) for r in R.kwic_snippets(docs, "beta", width=2).collect())
        assert got == [
            (1, 1, "alpha beta gamma delta"),
            (2, 0, "beta at start"),
            (3, 2, "ends with beta"),
        ]

    def test_indexed_equals_batch_and_bounds_broadcast(self, spark, tmp_path):
        docs = self._docs(spark)
        base = str(tmp_path / "kwic")
        R.write_postings_index(docs, base, num_files=2, positions=True)
        batch = sorted(
            tuple(r) for r in R.kwic_snippets(docs, "beta", width=2).collect()
        )
        idx = sorted(
            tuple(r)
            for r in R.kwic_snippets_indexed(
                spark, base, docs, "beta", width=2
            ).collect()
        )
        assert idx == batch
        with pytest.raises(ValueError):
            R.kwic_snippets_indexed(
                spark, base, docs, "beta", broadcast_limit=1
            )

    def test_multiple_occurrences_and_bad_args(self, spark):
        docs = spark.createDataFrame(
            [(1, "x hit y hit z")], "doc_id long, text string"
        )
        got = sorted(tuple(r) for r in R.kwic_snippets(docs, "hit", width=1).collect())
        assert got == [(1, 1, "x hit y"), (1, 3, "y hit z")]
        with pytest.raises(ValueError):
            R.kwic_snippets(docs, "")
        with pytest.raises(ValueError):
            R.kwic_snippets(docs, "hit", width=-1)


class TestIndexDelete:
    """Tombstone deletes: serve-after-delete must equal
    rebuild-from-survivors bit for bit, totals fold exactly, purge is
    invisible to serving, and id reuse is rejected loudly."""

    def _corpora(self, spark):
        rows = [
            (i, f"spark data w{i % 7} {'needle' if i % 5 == 0 else 'hay'}")
            for i in range(50)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return docs, docs.filter(F.col("doc_id") % 3 != 1)

    def _stores(self, spark, tmp_path):
        docs, live = self._corpora(spark)
        base, ref = str(tmp_path / "del"), str(tmp_path / "ref")
        R.write_postings_index(docs, base, num_files=4, positions=True)
        R.index_delete(
            spark, base, docs.filter(F.col("doc_id") % 3 == 1).select("doc_id")
        )
        R.write_postings_index(live, ref, num_files=4, positions=True)
        return docs, base, ref

    def test_all_serving_paths_equal_rebuild(self, spark, tmp_path):
        from block_explorer_spark.sources import manifest as M

        docs, base, ref = self._stores(spark, tmp_path)
        terms = ["needle", "spark"]
        for fn in (R.bm25_search_indexed, R.bm25_search_maxscore):
            a = [tuple(r) for r in fn(spark, base, terms, topk=10).collect()]
            b = [tuple(r) for r in fn(spark, ref, terms, topk=10).collect()]
            assert a == b and a, fn.__name__
        m1 = M.read(base)["meta"]["bm25"]
        m2 = M.read(ref)["meta"]["bm25"]
        assert (m1["n"], m1["sum_dl"]) == (m2["n"], m2["sum_dl"])
        pa = sorted(
            tuple(r)
            for r in R.phrase_search_indexed(spark, base, ["spark", "data"]).collect()
        )
        pb = sorted(
            tuple(r)
            for r in R.phrase_search_indexed(spark, ref, ["spark", "data"]).collect()
        )
        assert pa == pb and pa
        va = sorted(tuple(r) for r in R.vocab_prefix(spark, base, "w").collect())
        vb = sorted(tuple(r) for r in R.vocab_prefix(spark, ref, "w").collect())
        assert va == vb
        q = {"a": ["needle"], "b": ["spark", "data"]}
        ma = sorted(
            tuple(r) for r in R.bm25_search_many(spark, base, q, topk=5).collect()
        )
        mb = sorted(
            tuple(r) for r in R.bm25_search_many(spark, ref, q, topk=5).collect()
        )
        assert ma == mb

    def test_redelete_and_absent_are_noops(self, spark, tmp_path):
        docs, base, _ = self._stores(spark, tmp_path)
        again = docs.filter(F.col("doc_id") % 3 == 1).select("doc_id")
        assert R.index_delete(spark, base, again) is None
        ghost = spark.createDataFrame([(999,)], "doc_id long")
        assert R.index_delete(spark, base, ghost) is None

    def test_purge_folds_physically_serving_unchanged(self, spark, tmp_path):
        from block_explorer_spark.sources import manifest as M

        docs, base, ref = self._stores(spark, tmp_path)
        before = [
            tuple(r)
            for r in R.bm25_search_indexed(
                spark, base, ["needle", "spark"], topk=10
            ).collect()
        ]
        assert R.index_purge(spark, base) is not None
        m = M.read(base)
        assert not m["families"].get(R.TOMBSTONES)
        after = [
            tuple(r)
            for r in R.bm25_search_indexed(
                spark, base, ["needle", "spark"], topk=10
            ).collect()
        ]
        assert after == before
        assert R.index_purge(spark, base) is None  # no-op without tombstones
        # purged postings physically exclude the deleted docs
        import os

        post = spark.read.parquet(
            *[os.path.join(base, r) for r in m["families"]["postings"]]
        )
        assert post.filter(F.col("doc_id") % 3 == 1).count() == 0

    def test_append_rejects_tombstoned_ids_then_accepts_fresh(
        self, spark, tmp_path
    ):
        docs, base, _ = self._stores(spark, tmp_path)
        reused = spark.createDataFrame(
            [(1, "x y")], "doc_id long, text string"
        )
        with pytest.raises(ValueError):
            R.index_append(reused, base)
        R.index_purge(spark, base)
        fresh = spark.createDataFrame(
            [(1000, "spark needle")], "doc_id long, text string"
        )
        R.index_append(fresh, base)
        got = R.bm25_search_indexed(spark, base, ["needle"], topk=50).collect()
        assert 1000 in {r["doc_id"] for r in got}


class TestMinWindow:
    def test_hand_computed_spans(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a x x b y a"),        # covers at (5,3): span 3
                (2, "b a"),                # span 2
                (3, "a only here"),        # missing b -> excluded
                (4, "b x x x x x a x b"),  # best is (6,8): span 3
            ],
            "doc_id long, text string",
        )
        got = dict(
            (r["doc_id"], r["min_window"])
            for r in R.min_window_match(docs, ["a", "b"]).collect()
        )
        assert got == {1: 3, 2: 2, 4: 3}

    def test_three_terms_and_indexed_parity(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [
                (1, "a b c"),
                (2, "a x b x x c a"),  # a@{0,6} b@2 c@5: best cover (2..6), span 5
                (3, "c b a"),
            ],
            "doc_id long, text string",
        )
        batch = dict(
            (r["doc_id"], r["min_window"])
            for r in R.min_window_match(docs, ["a", "b", "c"]).collect()
        )
        assert batch == {1: 3, 2: 5, 3: 3}
        base = str(tmp_path / "mw")
        R.write_postings_index(docs, base, num_files=2, positions=True)
        idx = dict(
            (r["doc_id"], r["min_window"])
            for r in R.min_window_indexed(spark, base, ["a", "b", "c"]).collect()
        )
        assert idx == batch

    def test_bad_terms_rejected(self, spark):
        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError):
            R.min_window_match(docs, ["a"])
        with pytest.raises(ValueError):
            R.min_window_match(docs, ["a", "a"])


class TestPhraseSearchMany:
    def _store(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [
                (1, "a b c a b"),
                (2, "b b b"),
                (3, "c a b x a b c"),
                (4, "nothing here"),
            ],
            "doc_id long, text string",
        )
        base = str(tmp_path / "pm")
        R.write_postings_index(docs, base, num_files=2, positions=True)
        return docs, base

    def test_one_pass_equals_per_phrase(self, spark, tmp_path):
        docs, base = self._store(spark, tmp_path)
        phrases = {"q1": ["a", "b"], "q2": ["b", "b"], "q3": ["c", "a", "b"]}
        got = sorted(
            tuple(r)
            for r in R.phrase_search_many(spark, base, phrases).collect()
        )
        want = sorted(
            (qid, r["doc_id"], r["n_occurrences"])
            for qid, ws in phrases.items()
            for r in R.phrase_search_indexed(spark, base, ws).collect()
        )
        assert got == want and got
        # bigram overlap counting preserved through the vectorized path
        assert ("q2", 2, 2) in got  # "b b b" has two overlapping "b b"

    def test_all_bigrams_and_absent_phrase(self, spark, tmp_path):
        docs, base = self._store(spark, tmp_path)
        phrases = {"hit": ["a", "b"], "miss": ["x", "z"]}
        got = R.phrase_search_many(spark, base, phrases).collect()
        assert {r["query_id"] for r in got} == {"hit"}

    def test_rejects_bad_input(self, spark, tmp_path):
        docs, base = self._store(spark, tmp_path)
        with pytest.raises(ValueError):
            R.phrase_search_many(spark, base, {})
        with pytest.raises(ValueError):
            R.phrase_search_many(spark, base, {"q": ["solo"]})


class TestIndexVacuum:
    def test_vacuum_after_purge_retires_dead_files(self, spark, tmp_path):
        """The full delete lifecycle: delete (tombstones) → purge
        (physical rewrite) → vacuum (disk reclaim) — serving identical
        at every step, old postings/positions bytes actually gone."""
        import os

        from block_explorer_spark.sources import manifest as M

        docs = spark.createDataFrame(
            [(i, f"spark data w{i % 7} {'needle' if i % 5 == 0 else 'hay'}")
             for i in range(50)],
            "doc_id long, text string",
        )
        base = str(tmp_path / "vac")
        R.write_postings_index(docs, base, num_files=4, positions=True)
        R.index_delete(
            spark, base, docs.filter(F.col("doc_id") % 3 == 1).select("doc_id")
        )
        want = [
            tuple(r)
            for r in R.bm25_search_indexed(
                spark, base, ["needle", "spark"], topk=10
            ).collect()
        ]
        R.index_purge(spark, base)
        n_files_before = sum(len(files) for _, _, files in os.walk(base))
        removed = M.vacuum(base, keep_last=1, min_age_s=0.0)
        assert removed > 0  # pre-purge postings/positions really retired
        n_files_after = sum(len(files) for _, _, files in os.walk(base))
        assert n_files_after < n_files_before
        got = [
            tuple(r)
            for r in R.bm25_search_indexed(
                spark, base, ["needle", "spark"], topk=10
            ).collect()
        ]
        assert got == want
        ph = R.phrase_search_indexed(spark, base, ["spark", "data"]).count()
        assert ph > 0  # positional family intact post-vacuum
