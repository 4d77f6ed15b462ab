"""Unit tests for training-data operators: dedup tiers, similarity
search, multimodal plumbing.

Deterministic micro-fixtures with hand-computable expectations pin the
semantics (the reference's integration-test strategy, SURVEY.md §5);
scale behavior is covered by bench.py + the sf0.01 oracle harness.
"""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from block_explorer_spark import placement
from block_explorer_spark.functions import text as Tx
from block_explorer_spark.operators import dedup as D
from block_explorer_spark.operators import multimodal as M
from block_explorer_spark.operators import similarity as Sim


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # dup of 1
        (3, "dog lazy the over jumps fox brown quick the"),  # same bag of words
        (4, "the quick brown fox jumps over the sleepy dog"),  # near-dup of 1
        (5, "completely different content about spark engines"),
        (6, "another unrelated text mentioning query planners"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups_and_counts(docs):
    out = D.exact_dedup(docs, F.col("text"), "doc_id")
    rows = {r["keep_id"]: r["dup_count"] for r in out.collect()}
    assert rows[1] == 2  # docs 1 and 2 share the literal text
    assert rows[3] == 1 and rows[4] == 1 and rows[5] == 1 and rows[6] == 1


def test_fingerprint_dedup_is_order_insensitive(docs):
    out = D.fingerprint_dedup(docs, "text", "doc_id")
    rows = {r["keep_id"]: r["dup_count"] for r in out.collect()}
    # 1, 2 and 3 share the bag of words (order/duplication ignored)
    assert rows[1] == 3
    assert rows[4] == 1


def test_jaccard_pairs_exact_values(docs):
    # token (1-gram) shingles so jaccard is hand-computable
    out = D.jaccard_pairs(docs, "doc_id", Tx.word_set("text"), threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r for r in out.collect()}
    # docs 1,2,3: identical 8-token sets -> jaccard 1.0
    for pair in [(1, 2), (1, 3), (2, 3)]:
        assert got[pair]["jaccard"] == pytest.approx(1.0)
        assert got[pair]["inter"] == 8
    # doc 4 vs 1: tokens {the,quick,brown,fox,jumps,over,lazy|sleepy,dog}
    # inter=7, union=9 -> 7/9
    assert got[(1, 4)]["jaccard"] == pytest.approx(7 / 9)
    assert got[(1, 4)]["size_a"] == 8 and got[(1, 4)]["size_b"] == 8
    # unrelated docs never appear
    assert not any(5 in p or 6 in p for p in got)


def test_bucket_pairs_oversized_bucket_sharded(spark, monkeypatch):
    """A degenerate giant bucket (stop-shingle past the guard, band
    collision) must stream its pairs through the chunk-pair join, not
    one in-row quadratic array. Forced small thresholds so one bucket
    spans several chunks; exact pair set certified against brute
    force, small buckets certified unchanged alongside."""
    import itertools

    monkeypatch.setattr(D, "_PAIR_EXPAND_MAX", 8)
    monkeypatch.setattr(D, "_EQUAL_FAMILY_CHUNK", 7)
    rows = [("hot", f"d{i:03d}") for i in range(23)]  # giant bucket
    rows += [("cold", f"d{i:03d}") for i in range(5)]  # in-row path
    rows += [("lone", "d999")]  # size-1: no pairs
    keyed = spark.createDataFrame(rows, ["sh", "id"])
    out = D._bucket_pairs(keyed, ["sh"], F.col("id"))
    got = sorted((r.a, r.b) for r in out.collect())
    want = sorted(
        set(
            itertools.chain(
                itertools.combinations([f"d{i:03d}" for i in range(23)], 2),
                itertools.combinations([f"d{i:03d}" for i in range(5)], 2),
            )
        )
    )
    assert got == want
    # plan census: the sharded branch is present (posexplode) and the
    # in-row expansion survives for the small-bucket branch (slice)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "posexplode" in plan and "slice" in plan


def test_lsh_survives_degenerate_band_bucket(docs, monkeypatch):
    """Public-path check: with the in-row cap forced tiny, LSH's
    candidate expansion routes its (identical-doc) band buckets
    through the sharded branch and still returns the right pairs."""
    monkeypatch.setattr(D, "_PAIR_EXPAND_MAX", 1)
    out = D.minhash_lsh_pairs(
        docs, "doc_id", Tx.word_set("text"), num_hashes=32, bands=8, threshold=0.9
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= got


def test_jaccard_stop_shingle_guard(docs):
    # every interesting shingle here has freq <= 4; a freq cap of 1
    # kills all shared shingles -> no pairs survive
    out = D.jaccard_pairs(
        docs, "doc_id", Tx.word_set("text"), threshold=0.1, max_shingle_freq=1
    )
    assert out.count() == 0


def test_minhash_signatures_shape_and_determinism(docs):
    sig = D.minhash_signatures(docs, "doc_id", Tx.word_set("text"), num_hashes=32)
    rows = {r["doc_id"]: r["signature"] for r in sig.collect()}
    assert all(len(s) == 32 for s in rows.values())
    # identical token sets -> identical signatures
    assert rows[1] == rows[2] == rows[3]
    assert rows[1] != rows[5]


def test_minhash_lsh_finds_dups_and_neardups(docs):
    out = D.minhash_lsh_pairs(
        docs, "doc_id", Tx.word_set("text"), threshold=0.5, num_hashes=32, bands=16
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    # exact dups are always candidates (all bands agree) and verify at 1.0
    for pair in [(1, 2), (1, 3), (2, 3)]:
        assert got[pair] == pytest.approx(1.0)
    # verification is exact: if (1,4) was a candidate its jaccard is 7/9
    if (1, 4) in got:
        assert got[(1, 4)] == pytest.approx(7 / 9)
    # unrelated docs must not pass exact verification
    assert not any(5 in p or 6 in p for p in got)


def test_minhash_candidates_without_verify(docs):
    cand = D.minhash_lsh_pairs(
        docs, "doc_id", Tx.word_set("text"), num_hashes=32, bands=16, verify=False
    )
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    # ordering invariant
    assert all(a < b for a, b in pairs)


def test_simhash_identical_docs_zero_hamming(docs):
    out = D.simhash_pairs(docs, "doc_id", Tx.word_set("text"), max_hamming=3, blocks=8)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    for pair in [(1, 2), (1, 3), (2, 3)]:
        assert got[pair] == 0
    assert not any(5 in p or 6 in p for p in got)


def test_simhash_table_deterministic(docs):
    a = {r["__id"]: r["__sim"] for r in D.simhash_table(docs, "doc_id", Tx.word_set("text")).collect()}
    b = {r["__id"]: r["__sim"] for r in D.simhash_table(docs, "doc_id", Tx.word_set("text")).collect()}
    assert a == b
    assert a[1] == a[2] == a[3]


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], "x"),
        (1, [0.9, 0.1, 0.0], "x"),
        (2, [0.0, 1.0, 0.0], "x"),
        (3, [1.0, 0.0, 0.0], "y"),  # same direction as 0, other block
        (4, [-1.0, 0.0, 0.0], "y"),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_brute_force_topk_order(vectors):
    out = Sim.brute_force_topk(vectors, "embedding", [1.0, 0.0, 0.0], k=3)
    got = [(r["vec_id"], r["cosine"]) for r in out.collect()]
    assert [v for v, _ in got] == [0, 3, 1]
    assert got[0][1] == pytest.approx(1.0)
    assert got[2][1] == pytest.approx(0.9 / (0.81 + 0.01) ** 0.5)


def test_cosine_pairs_blocked(vectors):
    out = Sim.cosine_pairs(vectors, "embedding", "label", threshold=0.9)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    # within block x: (0,1) cosine ~0.9939; (0,2) and (1,2) below threshold
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] == pytest.approx(0.9 / (0.82) ** 0.5)
    # (0,3) identical vectors but different blocks -> never compared


def test_cosine_pairs_blas_matches_fold(spark, vectors):
    """The gram-matrix path must agree with the Catalyst fold path —
    same pairs, same cosines (float64 both ways), including the
    chunked-stripe code path (row_chunk=2)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], f"b{i % 3}") for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    fold = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in Sim.cosine_pairs(df, "embedding", "label", threshold=0.2).collect()
    }
    blas = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in Sim.cosine_pairs_blas(
            df, "embedding", "label", threshold=0.2, row_chunk=2
        ).collect()
    }
    assert set(fold) == set(blas) and len(fold) > 10
    for k in fold:
        assert blas[k] == pytest.approx(fold[k], abs=1e-12)


def test_cosine_pairs_blas_degenerate_blocks(spark):
    """Singleton blocks emit nothing; zero vectors don't divide by 0."""
    rows = [
        (0, [0.0, 0.0], "solo"),
        (1, [0.0, 0.0], "z"),
        (2, [1.0, 0.0], "z"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = Sim.cosine_pairs_blas(df, "embedding", "label", threshold=-1.0).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}
    assert got[0]["cosine"] == pytest.approx(0.0)


def test_rp_lsh_topk_finds_exact_match(vectors):
    out = Sim.rp_lsh_topk(
        vectors, "embedding", [1.0, 0.0, 0.0], k=2, bits=4, multiprobe_hamming=1
    )
    rows = [(r["vec_id"], r["cosine"]) for r in out.collect()]
    # the identical vectors land in the query's own bucket
    assert rows[0][0] == 0 and rows[0][1] == pytest.approx(1.0)


def test_rp_lsh_buckets_deterministic(vectors):
    a = {r["vec_id"]: r["bucket"] for r in Sim.rp_lsh_buckets(vectors, "embedding", 3, bits=8).collect()}
    b = {r["vec_id"]: r["bucket"] for r in Sim.rp_lsh_buckets(vectors, "embedding", 3, bits=8).collect()}
    assert a == b
    assert a[0] == a[3]  # identical vectors, identical buckets


def test_ivf_assign_and_topk(vectors):
    centroids = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [-1.0, 0.0, 0.0]]
    assigned = Sim.ivf_assign(vectors, "embedding", centroids)
    got = {r["vec_id"]: r["centroid_id"] for r in assigned.collect()}
    assert got[0] == 0 and got[1] == 0 and got[3] == 0
    assert got[2] == 1 and got[4] == 2
    # probing only the query's own cell finds the exact matches
    out = Sim.ivf_topk(
        vectors, "embedding", [1.0, 0.0, 0.0], k=2, centroids=centroids, n_probe=1
    )
    rows = [(r["vec_id"], r["cosine"]) for r in out.collect()]
    assert rows[0] == (0, pytest.approx(1.0))
    assert rows[1] == (3, pytest.approx(1.0))


def test_ivf_trained_end_to_end(vectors):
    out = Sim.ivf_topk(vectors, "embedding", [1.0, 0.0, 0.0], k=1, n_centroids=2, n_probe=2)
    rows = out.collect()
    assert rows[0]["vec_id"] == 0 and rows[0]["cosine"] == pytest.approx(1.0)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNG-fake-bytes-1", 64, 64, None),
        (2, "image", "image/png", b"\x89PNG-fake-bytes-22", 32, 32, None),
        (3, "audio", "audio/wav", b"RIFF-fake-audio", None, None, 1500),
        (4, "video", "video/mp4", None, 640, 480, 9000),
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_extract_features_schema_and_hashes(media):
    out = M.extract_features(media)
    assert out.schema == M.FEATURE_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[1]["payload_sha256"] == hashlib.sha256(b"\x89PNG-fake-bytes-1").hexdigest()
    assert rows[1]["n_bytes"] == len(b"\x89PNG-fake-bytes-1")
    # NULL payload -> hash of empty bytes, zero length
    assert rows[4]["payload_sha256"] == hashlib.sha256(b"").hexdigest()
    assert rows[4]["n_bytes"] == 0
    # fake decode is deterministic and bounded to [0, 1]
    assert rows[2]["features"] == [pytest.approx(x) for x in M.fake_decode(b"\x89PNG-fake-bytes-22")]
    assert all(0.0 <= x <= 1.0 for x in rows[1]["features"])


def test_extract_features_small_batches(media):
    # batch_size=1 exercises the re-chunk path; results identical
    a = {r["media_id"]: r["payload_sha256"] for r in M.extract_features(media).collect()}
    b = {
        r["media_id"]: r["payload_sha256"]
        for r in M.extract_features(media, batch_size=1).collect()
    }
    assert a == b


def test_real_decode_handles_unknown_payload():
    """real_decode is a REAL codec path now (round-4): unknown or
    corrupt payloads decode to None (NULL features), never an
    exception; real formats decode (covered in depth by
    test_multimodal_codecs.py)."""
    assert M.real_decode(b"x") is None
    assert M.real_decode(b"") is None


def test_md5_hash60_matches_hashlib(spark):
    """The portable shingle hash equals int(md5 hexdigest[:15], 16) —
    the contract the DuckDB q26 oracle relies on
    (('0x' || substr(md5(sh),1,15))::BIGINT)."""
    df = spark.createDataFrame([("hello",), ("the quick brown",), ("",)], ["__sh"])
    got = {r["__sh"]: r["h"] for r in df.select("__sh", D.md5_hash60().alias("h")).collect()}
    for s in got:
        assert got[s] == int(hashlib.md5(s.encode()).hexdigest()[:15], 16), s


def test_simhash_pairs_pigeonhole_equals_all_pairs(docs):
    """Pigeonhole blocking is EXACT when blocks > max_hamming: the
    blocked result must equal the brute-force all-pairs hamming filter
    (same 60-bit md5 simhash both sides)."""
    kwargs = dict(bits=60, hash_expr=D.md5_hash60())
    sh = D.simhash_table(docs, "doc_id", Tx.word_set("text"), **kwargs)
    sims = {r["__id"]: r["__sim"] for r in sh.collect()}
    ids = sorted(sims)
    brute = {
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sims[a] ^ sims[b]).count("1") <= 25
    }
    blocked = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_pairs(
            docs, "doc_id", Tx.word_set("text"), max_hamming=25, blocks=30, **kwargs
        ).collect()
    }
    assert blocked == brute and len(brute) > 0


def test_minhash_lsh_matches_exact_on_gate_corpus(spark):
    """q25's oracle validity: on the driver's documents corpus, LSH
    recall at threshold 0.8 is 1.0 with 128 hashes / 16 bands, so the
    exact-verified LSH output equals the exact-jaccard pair set."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = Tx.word_ngrams("text", 3)
    exact = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in D.jaccard_pairs(docs, "doc_id", sh, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", sh, threshold=0.8, num_hashes=128, bands=16
        ).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_seeded_centroids_deterministic_and_ivf_probe_subset(vectors):
    """seeded_centroids is reproducible (the oracle embeds it as
    literals) and ivf_topk over precomputed centroids returns a subset
    of brute-force ranking restricted to the probed cells."""
    c1 = Sim.seeded_centroids(3, 4, seed=7, scale=1.0)
    c2 = Sim.seeded_centroids(3, 4, seed=7, scale=1.0)
    assert c1 == c2 and len(c1) == 4 and len(c1[0]) == 3
    q = [1.0, 0.0, 0.0]
    top = Sim.ivf_topk(vectors, "embedding", q, k=3, centroids=c1, n_probe=4)
    # probing every cell == brute force
    brute = Sim.brute_force_topk(vectors, "embedding", q, k=3)
    assert [r["vec_id"] for r in top.collect()] == [r["vec_id"] for r in brute.collect()]


# ---------------------------------------------------------------------------
# Prefix filtering (round 4): exactness of the scale-safe candidate
# generation — jaccard_pairs_prefix / containment_pairs_prefix must
# return byte-identical results to the unfiltered inverted index.
# ---------------------------------------------------------------------------


def _rand_corpus(spark, seed, n_docs=120, vocab=40, words=12):
    """Small vocab on purpose: dense shingle collisions — the regime
    where prefix filtering prunes hardest and an off-by-one in the
    prefix length would show up as a missing pair."""
    import random as _random

    rng = _random.Random(seed)
    rows = []
    for i in range(n_docs):
        if i % 3 == 0 and i > 0:  # mutated copy of an earlier doc
            base = rows[rng.randrange(len(rows))][1].split()
            base[rng.randrange(len(base))] = f"w{rng.randrange(vocab)}"
            rows.append((i, " ".join(base)))
        else:
            rows.append(
                (i, " ".join(f"w{rng.randrange(vocab)}" for _ in range(words)))
            )
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _pairs_key(df_out):
    return sorted(
        (r["id_a"], r["id_b"], r["inter"], r["size_a"], r["size_b"])
        for r in df_out.collect()
    )


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_jaccard_prefix_equals_unfiltered(spark, threshold):
    docs = _rand_corpus(spark, seed=threshold)
    sh = Tx.word_ngrams("text", 2)
    plain = D.jaccard_pairs(docs, "doc_id", sh, threshold=threshold)
    pref = D.jaccard_pairs_prefix(docs, "doc_id", sh, threshold=threshold)
    assert _pairs_key(plain) == _pairs_key(pref)
    assert len(_pairs_key(pref)) > 0  # non-vacuous


@pytest.mark.parametrize("threshold", [0.4, 0.62])
def test_containment_prefix_equals_unfiltered(spark, threshold):
    docs = _rand_corpus(spark, seed=99)
    sh = Tx.word_ngrams("text", 2)
    plain = D.containment_pairs(docs, "doc_id", sh, threshold=threshold)
    pref = D.containment_pairs_prefix(docs, "doc_id", sh, threshold=threshold)
    assert _pairs_key(plain) == _pairs_key(pref)
    assert len(_pairs_key(pref)) > 0


def test_jaccard_prefix_exact_integer_boundary(spark):
    """threshold * |d| landing on an exact integer must not shorten
    the prefix through fp ceil error: two 10-shingle docs sharing
    exactly 8 (jaccard 8/12 < 0.8) and a true 0.8+ pair both behave."""
    a = " ".join(f"t{i}" for i in range(11))      # shingles t0..t10 (11 words -> 10 bigrams)
    rows = [(1, a), (2, a), (3, a + " extra")]    # 1=2 exact, 3 superset
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = Tx.word_ngrams("text", 2)
    plain = D.jaccard_pairs(docs, "doc_id", sh, threshold=0.8)
    pref = D.jaccard_pairs_prefix(docs, "doc_id", sh, threshold=0.8)
    assert _pairs_key(plain) == _pairs_key(pref)
    ids = {(r[0], r[1]) for r in _pairs_key(pref)}
    assert (1, 2) in ids


def test_banded_signature_formulations_identical(spark, tmp_path):
    """Round-10: minhash_signatures' explode+groupBy prep (bounded
    128-long agg state, kept at every scale) must be BIT-IDENTICAL to
    the row-local transform(shingles, xxhash64) reference, and
    _banded_signatures — size-gated between explode+collect_list
    (small, codegen) and map-only transform (large, bounded memory;
    the explode form OOM'd the 8 GB heap at x1000) — must produce
    identical (id, band, bhash) rows on both paths. MIN is order- and
    duplicate-insensitive, so any formulation swap must keep these
    equalities."""
    rows = [
        (i, " ".join(f"tok{(i * 7 + j) % 40}" for j in range(30)))
        for i in range(60)
    ] + [(100, ""), (101, None)]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "docs.parquet")
    )
    pq = spark.read.parquet(str(tmp_path / "docs.parquet"))
    sh = Tx.word_ngrams("text", 3)

    shipped = {
        r["doc_id"]: r["signature"]
        for r in D.minhash_signatures(pq, "doc_id", sh, num_hashes=16).collect()
    }
    # row-local reference: per-doc hash array, MIN per family member
    arr = (
        "array("
        + ",".join(
            f"array_min(transform(`__hs`, h -> xxhash64(h, {i})))"
            for i in range(16)
        )
        + ")"
    )
    reference = {
        r["doc_id"]: r["sig"]
        for r in pq.select(
            "doc_id",
            F.transform(sh, lambda x: F.xxhash64(x)).alias("__hs"),
        )
        .filter(F.size("__hs") > 0)
        .select("doc_id", F.expr(arr).alias("sig"))
        .collect()
    }
    assert shipped == reference
    # empty and NULL text both tokenize to one empty shingle [""]
    # (word_ngrams coalesces) — present with identical signatures
    assert 100 in shipped and 101 in shipped

    # _banded_signatures: small path (explode+collect_list) vs large
    # path (map-only transform, empties dropped inside the UDF) —
    # identical band rows for the same docs
    assert placement.small_plan(pq)
    small_banded = sorted(
        (r["__id"], r["band"], r["bhash"])
        for r in D._banded_signatures(pq, "doc_id", sh, 64, 16).collect()
    )
    orig = placement.small_plan
    placement.small_plan = lambda df: False
    try:
        large_banded = sorted(
            (r["__id"], r["band"], r["bhash"])
            for r in D._banded_signatures(pq, "doc_id", sh, 64, 16).collect()
        )
    finally:
        placement.small_plan = orig
    assert small_banded == large_banded
