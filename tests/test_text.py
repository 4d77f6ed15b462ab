"""Unit tests for the text-analysis column library (also covered
cross-engine by the q20-q24/q31 oracles; these pin the edge cases the
oracles' data may not hit)."""

from __future__ import annotations

import pytest

from block_explorer_spark.functions import text as Tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox"),
        (2, "  padded   whitespace  text  "),
        (3, "12345 67890"),
        (4, "der die das und ist nicht"),
        (5, "the and of to is in"),
        (6, "x"),
    ]
    return spark.createDataFrame(rows, ["id", "text"])


def _one(df, col, doc_id):
    return {r["id"]: r["v"] for r in df.select("id", col.alias("v")).collect()}[doc_id]


def test_token_count(docs):
    assert _one(docs, Tx.token_count("text"), 1) == 4
    assert _one(docs, Tx.token_count("text"), 2) == 3  # trim + \s+ split
    assert _one(docs, Tx.token_count("text"), 6) == 1


def test_word_ngrams_short_text(docs):
    # texts shorter than n yield the whole token sequence as one shingle
    assert _one(docs, Tx.word_ngrams("text", 5), 1) == ["the quick brown fox"]
    assert _one(docs, Tx.word_ngrams("text", 3), 1) == ["the quick brown", "quick brown fox"]


def test_digit_and_ratios(docs):
    assert _one(docs, Tx.digit_ratio("text"), 3) == pytest.approx(10 / 11)
    assert _one(docs, Tx.digit_ratio("text"), 1) == 0.0


def test_language_id(docs):
    assert _one(docs, Tx.language_id("text"), 4) == "de"
    assert _one(docs, Tx.language_id("text"), 5) == "en"
    assert _one(docs, Tx.language_id("text"), 3) == "und"


def test_quality_bounds(docs):
    vals = [r["v"] for r in docs.select(Tx.quality_score("text").alias("v")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)
    # pure digits scores worse than clean prose of the same length
    q_digits = _one(docs, Tx.quality_score("text"), 3)
    q_prose = _one(docs, Tx.quality_score("text"), 1)
    assert q_digits < q_prose


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        ["id", "text"],
    )
    fps = {r["id"]: r["v"] for r in df.select("id", Tx.word_set_fingerprint("text").alias("v")).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_rolling_fingerprint_modes(docs):
    md5s = _one(docs, Tx.rolling_fingerprint("text", window=2, hashf="md5"), 1)
    xxs = _one(docs, Tx.rolling_fingerprint("text", window=2), 1)
    assert len(md5s) == 3 and len(xxs) == 3  # 4 tokens, window 2
    assert all(isinstance(h, str) for h in md5s)
    assert all(isinstance(h, int) for h in xxs)
    with pytest.raises(KeyError):
        Tx.rolling_fingerprint("text", hashf="sha1")


class TestCooccurrence:
    def test_hand_counted_pairs(self, spark):
        from block_explorer_spark.operators.profile import cooccurrence

        docs = spark.createDataFrame(
            [(1, "a b a c"), (2, "b b")], "doc_id long, text string"
        )
        got = sorted(
            (r["a"], r["b"], r["n"])
            for r in cooccurrence(docs, window=2).collect()
        )
        # doc1 positions a0 b1 a2 c3: pairs (0,1)(0,2)(1,2)(1,3)(2,3);
        # doc2: (0,1) — canonicalized a<=b, same-token pairs kept
        assert got == [
            ("a", "a", 1), ("a", "b", 2), ("a", "c", 1),
            ("b", "b", 1), ("b", "c", 1),
        ]

    def test_window_one_is_adjacency(self, spark):
        from block_explorer_spark.operators.profile import cooccurrence

        docs = spark.createDataFrame(
            [(1, "x y x y x")], "doc_id long, text string"
        )
        got = sorted(
            (r["a"], r["b"], r["n"])
            for r in cooccurrence(docs, window=1).collect()
        )
        assert got == [("x", "y", 4)]

    def test_bucket_boundary_pairs_not_dropped(self, spark):
        from block_explorer_spark.operators.profile import cooccurrence

        # window=3: pair at positions (2, 5) spans buckets 0 and 1 —
        # the duplicated left bucket must catch it
        docs = spark.createDataFrame(
            [(1, "f0 f1 hit f3 f4 hit")], "doc_id long, text string"
        )
        got = {
            (r["a"], r["b"]): r["n"]
            for r in cooccurrence(docs, window=3).collect()
        }
        assert got[("hit", "hit")] == 1

    def test_bad_window(self, spark):
        import pytest as _pt

        from block_explorer_spark.operators.profile import cooccurrence

        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with _pt.raises(ValueError):
            cooccurrence(docs, window=0)


class TestCollocations:
    def test_lift_hand_computed(self, spark):
        from block_explorer_spark.operators.profile import collocations

        docs = spark.createDataFrame(
            [
                (1, "new york new york city"),
                (2, "big data big data"),
                (3, "new data"),
            ],
            "doc_id long, text string",
        )
        got = [tuple(r) for r in collocations(docs, window=1, min_count=1).collect()]
        # N=8; marginals: new 4, york 4, big 3, data 4, city 1
        assert got == [
            ("big", "data", 3, 2.0),      # 3*8/(3*4)
            ("city", "york", 1, 2.0),     # 1*8/(1*4) — tie broken by a
            ("new", "york", 3, 1.5),      # 3*8/(4*4)
            ("data", "new", 1, 0.5),      # 1*8/(4*4)
        ]

    def test_min_count_and_topk(self, spark):
        from block_explorer_spark.operators.profile import collocations

        docs = spark.createDataFrame(
            [(1, "new york new york city"), (2, "big data big data")],
            "doc_id long, text string",
        )
        got = collocations(docs, window=1, min_count=3, topk=1).collect()
        assert len(got) == 1 and got[0]["n"] >= 3

    def test_empty_corpus(self, spark):
        from block_explorer_spark.operators.profile import collocations

        docs = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
        assert collocations(docs, window=2).count() == 0


class TestDocKeywords:
    def test_rare_terms_outrank_common(self, spark):
        from block_explorer_spark.operators.profile import doc_keywords

        docs = spark.createDataFrame(
            [(1, "rare rare common"), (2, "common other"), (3, "common unique")],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["token"]): r["score"]
            for r in doc_keywords(docs, topk_per_doc=2).collect()
        }
        # tf*N/df: doc1 rare = 2*3/1 = 6; common = 1*3/3 = 1
        assert got == {
            (1, "rare"): 6.0, (1, "common"): 1.0,
            (2, "other"): 3.0, (2, "common"): 1.0,
            (3, "unique"): 3.0, (3, "common"): 1.0,
        }

    def test_topk_and_tiebreak(self, spark):
        from block_explorer_spark.operators.profile import doc_keywords

        docs = spark.createDataFrame(
            [(1, "b a c"), (2, "zz")], "doc_id long, text string"
        )
        rows = doc_keywords(docs, topk_per_doc=2).collect()
        d1 = sorted(r["token"] for r in rows if r["doc_id"] == 1)
        assert d1 == ["a", "b"]  # equal scores -> token asc keeps a, b
        import pytest as _pt

        with _pt.raises(ValueError):
            doc_keywords(docs, topk_per_doc=0)
