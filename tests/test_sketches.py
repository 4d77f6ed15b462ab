"""Sketch operator guarantees: mergeability (the 100 TB property),
HLL error bound, CMS overestimate-only, Bloom no-false-negatives,
KMV sample determinism + bounded quantile error, and plan shape
(broadcast probes, bounded exchanges).

Cross-engine exactness of the estimates themselves is certified by
the q102-q105 oracle gates; these tests pin the algorithmic
contracts the oracle can't express.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from block_explorer_spark.operators import sketches as SK


@pytest.fixture(scope="module")
def keys(spark):
    # 20k distinct string keys, each appearing 1-3 times, deterministic
    return spark.range(0, 41000).select(
        F.concat(F.lit("k"), (F.col("id") % 20000).cast("string")).alias("k"),
        (F.col("id") % 4).alias("grp"),
    )


class TestHLL:
    def test_estimate_within_error_bound(self, spark, keys):
        p = 12
        est = SK.hll_distinct(keys, "k", p=p).collect()[0]["hll_estimate"]
        exact = keys.select("k").distinct().count()
        # standard error 1.04/sqrt(m) ~= 1.6% at p=12; 3 sigma bound.
        assert abs(est - exact) / exact < 3 * 1.04 / math.sqrt(1 << p)

    def test_merge_equals_whole(self, spark, keys):
        """Sketch(A ∪ B) == merge(Sketch(A), Sketch(B)) at the
        register level — the property that makes daily partials
        combinable without rescanning raw data."""
        a = keys.filter(F.col("grp") < 2)
        b = keys.filter(F.col("grp") >= 2)
        whole = {
            (r["register"],): r["max_rho"]
            for r in SK.hll_registers(keys, "k").collect()
        }
        merged = {
            (r["register"],): r["max_rho"]
            for r in SK.hll_merge(
                SK.hll_registers(a, "k"), SK.hll_registers(b, "k")
            ).collect()
        }
        assert whole == merged

    def test_grouped_matches_per_group(self, spark, keys):
        grouped = {
            r["grp"]: r["hll_estimate"]
            for r in SK.hll_distinct(keys, "k", ["grp"]).collect()
        }
        for g in range(4):
            solo = SK.hll_distinct(keys.filter(F.col("grp") == g), "k").collect()[0][
                "hll_estimate"
            ]
            assert grouped[g] == solo

    def test_plan_two_exchanges_with_partial_agg(self, spark, keys):
        plan = SK.hll_distinct(keys, "k")._jdf.queryExecution().executedPlan().toString()
        # one shuffle to (group, register), one to (group) — nothing
        # proportional to input rows crosses either.
        assert plan.count("Exchange") <= 2
        # map-side partial max per register before the shuffle
        assert "partial_max" in plan or "HashAggregate" in plan


class TestCMS:
    def test_never_underestimates(self, spark, keys):
        counters = SK.cms_counters(keys, "k", depth=4, width=512)
        est = SK.cms_estimate(counters, keys, "k", depth=4, width=512)
        exact = keys.groupBy("k").agg(F.count("*").alias("c"))
        bad = est.join(exact, "k").filter(F.col("cms_estimate") < F.col("c")).count()
        assert bad == 0

    def test_width_512_actually_collides(self, spark, keys):
        """20k keys into 512 buckets must overestimate somewhere —
        guards against the test accidentally running in a regime
        where CMS degenerates to exact and the property is vacuous."""
        counters = SK.cms_counters(keys, "k", depth=4, width=512)
        est = SK.cms_estimate(counters, keys, "k", depth=4, width=512)
        exact = keys.groupBy("k").agg(F.count("*").alias("c"))
        over = est.join(exact, "k").filter(F.col("cms_estimate") > F.col("c")).count()
        assert over > 0

    def test_probe_broadcasts_counters(self, spark, keys):
        counters = SK.cms_counters(keys, "k", depth=4, width=512)
        plan = (
            SK.cms_estimate(counters, keys, "k", depth=4, width=512)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan


class TestBloom:
    def test_no_false_negatives(self, spark):
        members = spark.range(0, 500).select(
            F.concat(F.lit("fp"), F.col("id")).alias("fp")
        )
        probe = spark.range(250, 1000).select(
            F.col("id").alias("pid"), F.concat(F.lit("fp"), F.col("id")).alias("fp")
        )
        pos = SK.bloom_positions(members, "fp", k=3, m_bits=1 << 16)
        hits = {r["pid"] for r in SK.bloom_probe(probe, "pid", "fp", pos, k=3, m_bits=1 << 16).collect()}
        # every true member (250..499) must be flagged
        assert set(range(250, 500)) <= hits

    def test_false_positive_rate_sane(self, spark):
        members = spark.range(0, 500).select(
            F.concat(F.lit("fp"), F.col("id")).alias("fp")
        )
        probe = spark.range(500, 10500).select(
            F.col("id").alias("pid"), F.concat(F.lit("fp"), F.col("id")).alias("fp")
        )
        pos = SK.bloom_positions(members, "fp", k=3, m_bits=1 << 16)
        fp = SK.bloom_probe(probe, "pid", "fp", pos, k=3, m_bits=1 << 16).count()
        # n=500, m=2^16, k=3 -> theoretical fp ~ (1-e^(-kn/m))^k ~ 1e-5;
        # 10k non-member probes should yield at most a handful.
        assert fp <= 5

    def test_probe_broadcasts_positions(self, spark):
        members = spark.range(0, 100).select(F.col("id").cast("string").alias("fp"))
        probe = spark.range(0, 100).select(
            F.col("id").alias("pid"), F.col("id").cast("string").alias("fp")
        )
        pos = SK.bloom_positions(members, "fp", k=3, m_bits=1 << 16)
        plan = (
            SK.bloom_probe(probe, "pid", "fp", pos, k=3, m_bits=1 << 16)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan


class TestBloomJoin:
    def test_result_identical_to_plain_join(self, spark):
        left = spark.range(0, 20000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        right = spark.range(0, 20000, 13).select(
            F.col("id").alias("k"), F.lit("r").alias("tag")
        )
        plain = sorted(
            tuple(r) for r in left.join(right, "k").collect()
        )
        bloomed = sorted(
            tuple(r)
            for r in SK.bloom_prefilter_join(
                left, right, "k", m_bits=1 << 18
            ).collect()
        )
        assert plain == bloomed and len(plain) > 0

    def test_prefilter_runs_before_join(self, spark):
        left = spark.range(0, 1000).select(F.col("id").alias("k"))
        right = spark.range(0, 1000, 7).select(F.col("id").alias("k"))
        plan = (
            SK.bloom_prefilter_join(left, right, "k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the Arrow membership filter must sit below the join
        assert "ArrowEvalPython" in plan or "EvalPython" in plan
        assert "Join" in plan

    def test_outer_join_rejected(self, spark):
        df = spark.range(0, 10).select(F.col("id").alias("k"))
        with pytest.raises(ValueError, match="inner/semi"):
            SK.bloom_prefilter_join(df, df, "k", how="left_outer")


class TestKMV:
    def test_sample_deterministic_across_partitioning(self, spark):
        df = spark.range(0, 10000).select(F.col("id"), (F.col("id") * 3).alias("v"))
        s1 = sorted(r["id"] for r in SK.bottomk_sample(df, "id", k=128).collect())
        s2 = sorted(
            r["id"] for r in SK.bottomk_sample(df.repartition(13), "id", k=128).collect()
        )
        assert s1 == s2

    def test_plan_is_takeordered(self, spark):
        df = spark.range(0, 10000).select(F.col("id"), (F.col("id") * 3).alias("v"))
        plan = SK.bottomk_sample(df, "id", k=128)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan

    def test_quantiles_bounded_error(self, spark):
        # uniform 0..9999: true q-quantile ~= q*9999; sampling error
        # ~ sqrt(q(1-q)/k)*N; assert 5-sigma.
        df = spark.range(0, 10000).select(F.col("id"), F.col("id").alias("v"))
        sample = SK.bottomk_sample(df, "id", k=256)
        out = {r["q"]: r["v"] for r in SK.sample_quantiles(sample, "v", [0.25, 0.5, 0.75]).collect()}
        for q, v in out.items():
            tol = 5 * math.sqrt(q * (1 - q) / 256) * 10000
            assert abs(v - q * 9999) < tol, (q, v, tol)

    def test_short_input_well_defined(self, spark):
        df = spark.range(0, 5).select(F.col("id"), F.col("id").alias("v"))
        sample = SK.bottomk_sample(df, "id", k=256)
        out = SK.sample_quantiles(sample, "v", [0.0, 0.5, 1.0]).collect()
        vals = {r["q"]: r["v"] for r in out}
        assert vals[0.0] == 0 and vals[1.0] == 4


class TestKMVSetAlgebra:
    def _sets(self, spark, na=4000, nb=3000, overlap=1000):
        # A = [0, na), B = [na-overlap, na-overlap+nb): |A∩B| = overlap
        a = spark.range(0, na).select(F.col("id").alias("k"))
        b = spark.range(na - overlap, na - overlap + nb).select(
            F.col("id").alias("k")
        )
        return a, b

    def test_signature_is_mergeable(self, spark):
        """sig(A ∪ B) == bottom-k of (sig(A) ∪ sig(B)) — the property
        that lets segments sketch independently."""
        a, b = self._sets(spark)
        k = 128
        whole = sorted(
            r["hkey"] for r in SK.kmv_signature(a.union(b), "k", k=k).collect()
        )
        sa = {r["hkey"] for r in SK.kmv_signature(a, "k", k=k).collect()}
        sb = {r["hkey"] for r in SK.kmv_signature(b, "k", k=k).collect()}
        merged = sorted(sa | sb)[:k]
        assert whole == merged

    def test_estimates_within_kmv_error(self, spark):
        """Union / intersection / Jaccard within 5/sqrt(k) of exact
        (KMV's standard error is ~1/sqrt(k-2))."""
        a, b = self._sets(spark)
        k = 256
        st = SK.kmv_set_stats(
            SK.kmv_signature(a, "k", k=k), SK.kmv_signature(b, "k", k=k), k=k
        )
        tol = 5.0 / (k**0.5)
        assert abs(st["union_est"] - 6000) <= 6000 * tol, st
        assert abs(st["inter_est"] - 1000) <= 6000 * tol, st
        assert abs(st["jacc_bp"] / 10000 - 1000 / 6000) <= tol, st

    def test_small_sets_are_exact_and_deterministic(self, spark):
        a, b = self._sets(spark, na=60, nb=50, overlap=20)
        k = 256
        st = SK.kmv_set_stats(
            SK.kmv_signature(a.repartition(7), "k", k=k),
            SK.kmv_signature(b, "k", k=k),
            k=k,
        )
        # union (90) fits the synopsis: everything exact
        assert st["union_est"] == 90
        assert st["inter_est"] == 20
        assert st["jacc_bp"] == (20 * 10000) // 90

    def test_disjoint_and_empty(self, spark):
        a, b = self._sets(spark, na=500, nb=400, overlap=0)
        st = SK.kmv_set_stats(
            SK.kmv_signature(a, "k", k=256), SK.kmv_signature(b, "k", k=256)
        )
        assert st["inter_est"] == 0 and st["jacc_bp"] == 0
        empty = a.filter(F.col("k") < 0)
        st0 = SK.kmv_set_stats(
            SK.kmv_signature(empty, "k"), SK.kmv_signature(empty, "k")
        )
        assert st0 == {"union_est": 0, "inter_est": 0, "jacc_bp": 0}


class TestBloomEdgeCases:
    def test_duplicate_probe_rows_never_false_negative(self, spark):
        """A duplicated (id, fp) probe row contributes 2k exploded
        rows; counting rows instead of distinct seeds used to reach
        2k != k and DROP a true member — a false negative, the one
        thing a bloom filter must never do."""
        members = spark.range(0, 50).select(
            F.concat(F.lit("fp"), F.col("id")).alias("fp")
        )
        one = spark.range(0, 50).select(
            F.lit(7).alias("pid"), F.concat(F.lit("fp"), F.col("id")).alias("fp")
        )
        probe = one.union(one)  # every (pid, fp) appears twice
        pos = SK.bloom_positions(members, "fp", k=3, m_bits=1 << 16)
        got = SK.bloom_probe(probe, "pid", "fp", pos, k=3, m_bits=1 << 16).collect()
        assert [(r["pid"], r["n_hits"]) for r in got] == [(7, 50)]

    def test_null_keys_match_plain_join_semantics(self, spark):
        """NULL join keys: an inner join drops them, so the prefilter
        must too — previously a NULL build key crashed bloom_bitmap's
        np.fromiter and a NULL probe key crashed bitmap_member."""
        left = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c")], "id long, k string"
        )
        right = spark.createDataFrame(
            [("a", "x"), (None, "y"), ("c", "z")], "k string, v string"
        )
        plain = sorted(tuple(r) for r in left.join(right, "k").collect())
        bloomed = sorted(
            tuple(r)
            for r in SK.bloom_prefilter_join(
                left.select("k", "id"), right, "k", m_bits=1 << 16
            ).collect()
        )
        assert bloomed == sorted(
            tuple(r) for r in left.select("k", "id").join(right, "k").collect()
        )
        assert len(plain) == 2  # sanity: NULLs joined nothing


class TestQhist:
    """DDSketch-style log-bucket quantile histogram: exact bucket
    arithmetic, bounded relative error, counter-lattice mergeability."""

    def _py_bucket(self, v: int, B: int = 6) -> int:
        if v <= 0:
            return -1
        e = v.bit_length() - 1
        sub = (v << B >> e) - (1 << B)
        return (e << B) + sub

    def test_bucket_matches_python_reference(self, spark):
        from block_explorer_spark.operators import sketches as S

        vals = [1, 2, 3, 63, 64, 65, 127, 128, 1000, 2**40 - 1, 2**40,
                5, 0, 7_654_321, 2**61]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        got = {
            r["v"]: r["b"]
            for r in df.select("v", S.qhist_bucket("v").alias("b")).collect()
        }
        for v in vals:
            assert got[v] == self._py_bucket(v), v

    def test_quantile_relative_error_bound(self, spark):
        """est within 2^-B relative of the exact quantile on a
        long-tailed column — the guarantee the sketch exists for."""
        import random

        from block_explorer_spark.operators import sketches as S

        rng = random.Random(42)
        vals = [int(math.exp(rng.uniform(0, 18))) + 1 for _ in range(20_000)]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        st = S.qhist_state(df, "v")
        got = {
            r["prob"]: r["est"]
            for r in S.qhist_quantiles(st, [0.5, 0.9, 0.99]).collect()
        }
        svals = sorted(vals)
        for p, est in got.items():
            exact = svals[math.ceil(p * len(svals)) - 1]
            assert abs(est - exact) / exact <= 2 ** -6 + 2 / exact, (p, est, exact)

    def test_state_bounded_and_mergeable(self, spark):
        from block_explorer_spark.operators import sketches as S

        a = spark.range(1, 30_000).select((F.col("id") * 37 % 90_001 + 1).alias("v"))
        b = spark.range(1, 20_000).select((F.col("id") * 91 % 70_001 + 1).alias("v"))
        sa, sb = S.qhist_state(a, "v"), S.qhist_state(b, "v")
        assert sa.count() <= 58 * 64  # bounded by the lattice, not the data
        merged = S.qhist_merge(sa, sb)
        direct = S.qhist_state(a.unionAll(b), "v")
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, direct.collect())
        )

    def test_deletes_decrement_exactly(self, spark):
        """Counters decrement like the CMS mirror: state(A) − state(D)
        == state(A \\ D) exactly — the property that lets a persisted
        sketch survive RTBF deletes without an epoch rebuild."""
        from block_explorer_spark.operators import sketches as S

        a = spark.range(1, 10_000).select((F.col("id") % 5_000 + 1).alias("v"))
        d = a.filter(F.col("v") % 7 == 0)
        keep = a.filter(F.col("v") % 7 != 0)
        neg = S.qhist_state(d, "v").withColumn("cnt", -F.col("cnt"))
        merged = S.qhist_merge(S.qhist_state(a, "v"), neg).filter(F.col("cnt") > 0)
        want = S.qhist_state(keep, "v")
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_grouped_quantiles(self, spark):
        from block_explorer_spark.operators import sketches as S

        df = spark.range(1, 12_001).select(
            (F.col("id") % 3).alias("g"), (F.col("id") * 13 % 40_000 + 1).alias("v")
        )
        st = S.qhist_state(df, "v", group_by=["g"])
        out = S.qhist_quantiles(st, [0.5, 0.95], group_by=["g"]).collect()
        assert len(out) == 6
        rows = {(r["g"], r["prob"]): r["est"] for r in out}
        import numpy as np

        pdf = df.toPandas()
        for (g, p), est in rows.items():
            vals = sorted(pdf[pdf.g == g].v)
            exact = vals[math.ceil(p * len(vals)) - 1]
            assert abs(est - exact) / exact <= 2 ** -6 + 2 / exact, (g, p)

    def test_zero_and_negative_handling(self, spark):
        from block_explorer_spark.operators import sketches as S

        df = spark.createDataFrame([(0,), (0,), (5,)], "v long")
        st = S.qhist_state(df, "v")
        got = {r["bucket"]: r["cnt"] for r in st.collect()}
        assert got[-1] == 2
        q = S.qhist_quantiles(st, [0.5]).collect()[0]
        assert q["est"] == 0  # rank-2 of 3 lands in the zero bucket

    def test_negative_values_mirrored_lattice(self, spark):
        """Negatives land on the mirrored lattice: bucket order ==
        value order across the whole line, midpoints negate, and
        quantiles on a mixed-sign column stay within the relative
        bound of |exact|."""
        import random

        from block_explorer_spark.operators import sketches as S

        rng = random.Random(9)
        vals = [
            (1 if rng.random() < 0.5 else -1)
            * (int(math.exp(rng.uniform(0, 12))) + 1)
            for _ in range(10_000)
        ] + [0, 0]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        # bucket id ascending == value ascending (spot-pin via sort)
        bs = df.select(
            "v", S.qhist_bucket("v").alias("b")
        ).orderBy("b", "v").collect()
        assert [r["v"] for r in bs] == sorted(vals, key=lambda v: (
            S and self._py_signed_bucket(v), v
        ))
        st = S.qhist_state(df, "v")
        got = {
            r["prob"]: r["est"]
            for r in S.qhist_quantiles(st, [0.1, 0.5, 0.9]).collect()
        }
        svals = sorted(vals)
        for p, est in got.items():
            exact = svals[math.ceil(p * len(svals)) - 1]
            assert abs(est - exact) <= abs(exact) * 2 ** -6 + 2, (p, est, exact)

    def _py_signed_bucket(self, v: int, B: int = 6) -> int:
        if v == 0:
            return -1
        if v < 0:
            return -2 - self._py_bucket(-v, B)
        return self._py_bucket(v, B)
