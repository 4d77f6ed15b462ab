"""Property-based tests (hypothesis) over the pure-logic core: jet
algebra, trie coverage, chain sort. No Spark in the loop — these
functions parameterize filters and run inside UDFs/applyInPandas, so
their invariants must hold on arbitrary inputs, not just fixtures.
"""

from __future__ import annotations

import pytest

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from block_explorer_spark.functions import jets
from block_explorer_spark.operators.chain_sort import BrokenChainError, order_group

jet_ids = st.text(alphabet="01", min_size=0, max_size=12)


@given(jet_ids)
def test_parents_are_prefix_chain(j):
    parents = jets.jet_parents(j)
    assert parents[0] == "" and parents[-1] == j
    assert all(j.startswith(p) for p in parents)
    assert [len(p) for p in parents] == list(range(len(j) + 1))


@given(jet_ids)
def test_siblings_contain_self_children_parent(j):
    sib = set(jets.jet_siblings(j))
    assert {j, j + "0", j + "1"} <= sib
    if j:
        assert j[:-1] in sib


@st.composite
def split_tree_leaves(draw):
    """Random full binary split: start at root, repeatedly split a
    random leaf. The leaf set always partitions the jet space."""
    leaves = [""]
    for _ in range(draw(st.integers(min_value=0, max_value=8))):
        idx = draw(st.integers(min_value=0, max_value=len(leaves) - 1))
        j = leaves.pop(idx)
        leaves += [j + "0", j + "1"]
    return leaves


@given(split_tree_leaves())
def test_full_split_tree_is_covered(leaves):
    assert jets.trie_covered(leaves) is True


@given(split_tree_leaves())
def test_removing_any_leaf_breaks_coverage(leaves):
    if len(leaves) == 1:
        return  # root alone; removing it leaves nothing
    for i in range(len(leaves)):
        assert jets.trie_covered(leaves[:i] + leaves[i + 1 :]) is False


@given(split_tree_leaves())
def test_extra_ancestors_keep_coverage(leaves):
    # adding redundant ancestor jets can never un-cover the space
    extra = leaves + [leaf[: len(leaf) // 2] for leaf in leaves]
    assert jets.trie_covered(extra) is True


def _chain(n, obj=b"\x01", seed=0):
    rng = random.Random(seed)
    rows, prev = [], None
    for i in range(n):
        ref = bytes([i + 1]) * 4
        rows.append(
            {
                "reference": ref,
                "type": "state",
                "object_reference": obj,
                "prev_record_reference": prev,
                "position": i,
            }
        )
        prev = ref
    return rows


@given(st.integers(min_value=1, max_value=20), st.randoms(use_true_random=False))
@settings(max_examples=40)
def test_chain_sort_recovers_order_from_any_permutation(n, rnd):
    rows = _chain(n)
    want = [r["reference"] for r in rows]
    shuffled = list(rows)
    rnd.shuffle(shuffled)
    # positions reflect arrival order, not chain order
    for i, r in enumerate(shuffled):
        r = dict(r)
        r["position"] = i
        shuffled[i] = r
    got = order_group(shuffled)
    assert [r["reference"] for r in got] == want
    assert [r["order"] for r in got] == list(range(1, n + 1))


@given(st.integers(min_value=3, max_value=15))
@settings(max_examples=20)
def test_chain_sort_detects_break_and_fork(n):
    rows = _chain(n)
    # break: remove a middle record
    broken = [dict(r) for i, r in enumerate(rows) if i != n // 2]
    try:
        order_group(broken)
        assert False, "expected BrokenChainError"
    except BrokenChainError:
        pass
    # fork: two records claim the same prev
    forked = [dict(r) for r in rows]
    forked.append(
        {
            "reference": b"\xff" * 4,
            "type": "state",
            "object_reference": b"\x01",
            "prev_record_reference": forked[0]["reference"],
            "position": n,
        }
    )
    try:
        order_group(forked)
        assert False, "expected BrokenChainError"
    except BrokenChainError:
        pass


@given(st.integers(min_value=1, max_value=10), st.integers(min_value=1, max_value=10))
@settings(max_examples=20)
def test_chain_sort_multiple_objects_independent(n1, n2):
    rows = _chain(n1, obj=b"\x0a") + [
        {**r, "position": r["position"] + n1} for r in _chain(n2, obj=b"\x0b", seed=1)
    ]
    got = order_group(rows)
    a = [r["reference"] for r in got if r["object_reference"] == b"\x0a"]
    b = [r["reference"] for r in got if r["object_reference"] == b"\x0b"]
    assert a == [r["reference"] for r in _chain(n1, obj=b"\x0a")]
    assert b == [r["reference"] for r in _chain(n2, obj=b"\x0b", seed=1)]


# ---------------------------------------------------------------------------
# Round-3 operators: connected components, containment, quantization
# ---------------------------------------------------------------------------


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference implementation: min-id component per vertex."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
@pytest.mark.slow
def test_connected_components_matches_union_find(spark, edges):
    from block_explorer_spark.operators import graph as G

    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r["id"]: r["component"] for r in G.connected_components(df).collect()}
    assert got == _union_find_components(edges)


@given(st.integers(min_value=0, max_value=2**31))
@settings(max_examples=20, deadline=None)
@pytest.mark.slow
def test_containment_dominates_jaccard(spark, seed):
    """For any corpus, containment(a,b) >= jaccard(a,b) on every
    co-shingled pair (min(|a|,|b|) <= |a|+|b|-inter)."""
    import random

    from block_explorer_spark.functions import text as Tx
    from block_explorer_spark.operators import dedup as D

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 15))))
        for i in range(6)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sh = Tx.word_ngrams("text", 2)
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(df, "doc_id", sh, threshold=0.0).collect()
    }
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in D.containment_pairs(df, "doc_id", sh, threshold=0.0).collect()
    }
    assert set(jac) == set(cont)
    for k in jac:
        assert cont[k] >= jac[k] - 1e-12


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=15, deadline=None)
def test_quantize_int8_error_bound(spark, vecs):
    """Codes stay in [-127, 127] and reconstruction error per element
    is <= 0.5/scale (the half-step bound of round-half-up)."""
    from block_explorer_spark.operators import similarity as Sim

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, ["vec_id", "v"])
    for r in Sim.quantize_int8(df, "v").collect():
        scale, codes, orig = r["q_scale"], r["q_vec"], r["v"]
        assert all(-127 <= c <= 127 for c in codes)
        if scale == 0.0:
            assert all(c == 0 for c in codes)
            continue
        for c, x in zip(codes, orig):
            assert abs(c / scale - x) <= 0.5 / scale + 1e-9


# ---------------------------------------------------------------------------
# Round 4: budget selection, temperature mixture, shared-shingle stats
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False, width=32),
            st.integers(min_value=1, max_value=40),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=800),
)
@settings(max_examples=12, deadline=None)
@pytest.mark.slow
def test_budget_select_equals_naive_prefix(spark, rows, budget):
    """budget_select's bucketed two-level cumulative sum == the plain
    greedy prefix for any score/weight mix and any budget."""
    from block_explorer_spark.operators import selection as Sel

    data = [(i, round(float(s), 6), w) for i, (s, w) in enumerate(rows)]
    df = spark.createDataFrame(data, ["id", "score", "w"])
    got = sorted(r["id"] for r in Sel.budget_select(df, "score", "w", "id", budget).collect())
    cum, exp = 0, []
    for i, s, w in sorted(data, key=lambda r: (-r[1], r[0])):
        cum += w
        if cum > budget:
            break
        exp.append(i)
    assert got == sorted(exp)


@given(
    st.dictionaries(
        st.sampled_from(["aa", "bb", "cc", "dd"]),
        st.integers(min_value=1, max_value=60),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=10, deadline=None)
@pytest.mark.slow
def test_temperature_sample_monotone_and_complete_on_min(spark, sizes):
    """For any stratum-size mix: the rarest stratum survives whole,
    every kept set is a subset of the stratum, and kept counts match
    the md5-rate replication."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from block_explorer_spark.operators import sampling as Smp

    rows = [
        (f"{s}-{i}", s) for s, n in sorted(sizes.items()) for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = Smp.temperature_sample(df, "lang", "doc_id", alpha=0.5)
    got = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_min = min(sizes.values())
    for s, n in sizes.items():
        rate = math.floor(10_000 * math.sqrt(n_min / n))
        exp = sum(
            1
            for i in range(n)
            if int(hashlib.md5(f"{s}-{i}".encode()).hexdigest()[:8], 16) % 10_000 < rate
        )
        assert got.get(s, 0) == exp
    rare = min(sizes, key=lambda s: (sizes[s], s))
    assert got.get(rare, 0) == sizes[rare]


@given(st.integers(min_value=0, max_value=2**31))
@settings(max_examples=10, deadline=None)
@pytest.mark.slow
def test_shared_shingle_stats_matches_bruteforce(spark, seed):
    """shared_shingle_stats == the per-doc brute-force set computation
    for any random corpus."""
    import random as _r

    from block_explorer_spark.functions import text as Tx
    from block_explorer_spark.operators import dedup as D

    rng = _r.Random(seed)
    vocab = ["a", "b", "c", "d", "e"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 10))))
        for i in range(rng.randint(2, 8))
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_shared"])
        for r in D.shared_shingle_stats(df, "doc_id", Tx.word_ngrams("text", 3)).collect()
    }

    def shingles(t):
        toks = t.lower().strip().split()
        n = max(len(toks) - 2, 1)
        return {" ".join(toks[i : i + 3]) for i in range(n)}

    sets = {i: shingles(t) for i, t in docs}
    for i, s in sets.items():
        shared = sum(
            1 for sh in s if any(sh in o for j, o in sets.items() if j != i)
        )
        assert got[i] == (len(s), shared)
