"""Z-order clustering: Morton key parity vs a pure-Python reference,
round-trip completeness, and the capability claim itself — a 2-D box
predicate prunes strictly more files on a z-ordered layout than on a
1-D linear sort, while returning the identical rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from block_explorer_spark.operators import zorder as Z
from block_explorer_spark.sources import manifest as M


def _py_unit(v, lo, hi, bits):
    top = (1 << bits) - 1
    span = float(hi) - float(lo)
    if not (span > 0):
        return 0
    u = int(((float(v) - float(lo)) * top) / span // 1)
    return max(0, min(top, u))


def _py_z(vals, bounds, bits):
    units = [_py_unit(v, *b, bits) for v, b in zip(vals, bounds)]
    z = 0
    for b in range(bits):
        for i, u in enumerate(units):
            z |= ((u >> b) & 1) << (b * len(units) + i)
    return z


def _grid(spark, n=4096, seed=13):
    """Deterministic 2-D dataframe: a ~independent of b (the layout
    test needs both dimensions to carry information)."""
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 64).cast("long").alias("a"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(64))
        .cast("long")
        .alias("b"),
    )


class TestMortonKey:
    def test_parity_with_python_reference(self, spark):
        df = _grid(spark, n=512)
        bounds = {"a": (0.0, 63.0), "b": (0.0, 63.0)}
        got = {
            r["id"]: r["z"]
            for r in df.select(
                "id", Z.zvalue(["a", "b"], bounds, bits=6).alias("z")
            ).collect()
        }
        for r in df.collect():
            want = _py_z([r["a"], r["b"]], [bounds["a"], bounds["b"]], 6)
            assert got[r["id"]] == want, (r["a"], r["b"])

    def test_null_maps_low_and_bits_cap(self, spark):
        df = spark.createDataFrame([(None, 5)], "a long, b long")
        z = df.select(
            Z.zvalue(["a", "b"], {"a": (0.0, 7.0), "b": (0.0, 7.0)}, 3).alias("z")
        ).collect()[0]["z"]
        assert z == _py_z([0, 5], [(0.0, 7.0), (0.0, 7.0)], 3)
        try:
            Z.zvalue(["a", "b"], {"a": (0, 1), "b": (0, 1)}, bits=32)
            raise AssertionError("expected bits*cols cap")
        except ValueError:
            pass

    def test_constant_column_degrades_gracefully(self, spark):
        df = spark.createDataFrame([(3, 9)], "a long, b long")
        z = df.select(
            Z.zvalue(["a", "b"], {"a": (3.0, 3.0), "b": (0.0, 15.0)}, 4).alias("z")
        ).collect()[0]["z"]
        assert z == _py_z([0, 9], [(0.0, 0.0), (0.0, 15.0)], 4)


class TestClusterReadWrite:
    def test_round_trip_box_equals_plain_filter(self, spark, tmp_path):
        base = str(tmp_path / "zstore")
        df = _grid(spark)
        Z.cluster_write(df, base, "grid", ["a", "b"], bits=6, num_files=16)
        got = sorted(
            r["id"]
            for r in Z.read_clustered(
                spark, base, "grid", {"a": (10, 20), "b": (30, 40)}
            ).collect()
        )
        want = sorted(
            r["id"]
            for r in df.filter(
                (F.col("a") >= 10) & (F.col("a") <= 20)
                & (F.col("b") >= 30) & (F.col("b") <= 40)
            ).collect()
        )
        assert got == want and len(want) > 0

    def test_nulls_survive_pruned_reads(self, spark, tmp_path):
        base = str(tmp_path / "znull")
        df = spark.createDataFrame(
            [(1, None, 5), (2, 10, None), (3, 10, 5)], "id long, a long, b long"
        )
        Z.cluster_write(df, base, "t", ["a", "b"], bits=4, num_files=2)
        full = Z.read_clustered(spark, base, "t", {}).collect()
        assert len(full) == 3  # no predicate: nothing dropped, nulls intact
        hit = Z.read_clustered(spark, base, "t", {"a": (10, 10), "b": (5, 5)})
        assert [r["id"] for r in hit.collect()] == [3]

    def test_empty_box_returns_empty_with_schema(self, spark, tmp_path):
        base = str(tmp_path / "zempty")
        Z.cluster_write(_grid(spark, n=256), base, "g", ["a", "b"], bits=6,
                        num_files=4)
        out = Z.read_clustered(spark, base, "g", {"a": (1000, 2000)})
        assert out.columns == ["id", "a", "b"]
        assert out.count() == 0

    def test_commit_is_full_family_replace_with_stats(self, spark, tmp_path):
        base = str(tmp_path / "zswap")
        Z.cluster_write(_grid(spark, n=256), base, "g", ["a", "b"], bits=6,
                        num_files=4)
        v1 = M.read(base)
        Z.cluster_write(_grid(spark, n=256, seed=99), base, "g", ["a", "b"],
                        bits=6, num_files=4)
        v2 = M.read(base)
        assert v2["version"] == v1["version"] + 1
        assert set(v2["families"]["g"]).isdisjoint(v1["families"]["g"])
        for rel in v2["families"]["g"]:
            assert "a" in v2["stats"][rel] and "b" in v2["stats"][rel]
        assert v2["meta"]["zorder"]["g"]["cols"] == ["a", "b"]


class TestSkippingPower:
    def test_zorder_prunes_every_dim_linear_prunes_one(self, spark, tmp_path):
        """The claim itself (and its honest shape): same data, same 16
        files. A linear sort by `a` prunes deepest on `a` but gives
        ZERO skipping on `b` — every file's b-zone spans the domain.
        The z-ordered layout prunes on BOTH dims (≤ half the files for
        a 1/8-wide predicate on either column), which is the trade: a
        little single-column depth for skipping on every clustered
        column. Answers are layout-independent."""
        df = _grid(spark)

        zb = str(tmp_path / "z")
        Z.cluster_write(df, zb, "g", ["a", "b"], bits=6, num_files=16)

        lb = str(tmp_path / "lin")
        with M.write_intent(lb):
            rels = M.stage_df(
                df.repartitionByRange(16, "a").sortWithinPartitions("a"), lb, "g"
            )
            M.commit(lb, {"g": rels}, 0, stats=M.file_stats(lb, rels, ["a", "b"]))

        b_only = {"b": (48, 55)}
        zb_keep, z_total = Z.pruned_files(zb, "g", b_only)
        lb_keep, l_total = Z.pruned_files(lb, "g", b_only)
        assert z_total == l_total == 16
        assert len(lb_keep) == 16  # linear layout: b prunes nothing
        assert len(zb_keep) <= 8, len(zb_keep)

        a_only = {"a": (8, 15)}
        za_keep, _ = Z.pruned_files(zb, "g", a_only)
        assert len(za_keep) <= 8, len(za_keep)  # z still prunes on a too

        box = {"a": (8, 15), "b": (48, 55)}
        zbox_keep, _ = Z.pruned_files(zb, "g", box)
        assert len(zbox_keep) <= len(zb_keep) and len(zbox_keep) <= len(za_keep)
        # and pruning changed nothing about the answer
        zr = sorted(r["id"] for r in
                    Z.read_clustered(spark, zb, "g", box).collect())
        lr = sorted(r["id"] for r in
                    Z.read_clustered(spark, lb, "g", box).collect())
        assert zr == lr and zr


class TestMigrate:
    def test_single_family_meta(self, spark, tmp_path):
        """The meta shape an earlier round committed — one family's
        layout at the top of meta["zorder"], named by a "family" key —
        raises in the writer, naming migrate; migrate rewrites it
        per-family in one meta-only commit, and the store then serves
        and takes a second clustered family exactly like a fresh one."""
        import pytest

        fresh, base = str(tmp_path / "fresh"), str(tmp_path / "old")
        for b in (fresh, base):
            Z.cluster_write(_grid(spark), b, "g", ["a", "b"], bits=6, num_files=8)
        cur = M.read(base)
        single = {"family": "g", **cur["meta"]["zorder"]["g"]}
        M.commit(
            base, dict(cur["families"]), cur["version"], meta={"zorder": single}
        )
        with pytest.raises(RuntimeError, match=r"zorder\.migrate"):
            Z.cluster_write(_grid(spark, 64), base, "h", ["a"])
        v0 = M.current_version(base)
        assert Z.migrate(base) == v0 + 1
        assert Z.migrate(base) is None
        assert M.current_version(base) == v0 + 1
        assert M.read(base)["meta"]["zorder"] == M.read(fresh)["meta"]["zorder"]

        box = {"a": (8, 15), "b": (48, 55)}
        for b in (fresh, base):
            Z.cluster_write(_grid(spark, 64), b, "h", ["a"], bits=6, num_files=2)

        def rows(b, family):
            return sorted(
                tuple(r) for r in Z.read_clustered(spark, b, family, box).collect()
            )

        assert rows(base, "g") == rows(fresh, "g") and rows(fresh, "g")
        assert rows(base, "h") == rows(fresh, "h")
        assert M.read(base)["meta"]["zorder"] == M.read(fresh)["meta"]["zorder"]
