"""Z-order (Morton) clustering + multi-column data skipping.

Why: the manifest's zone maps (sources/manifest.py:264,314) skip files
only as well as the LAYOUT allows. A linear sort by column A gives
tight per-file [min, max] on A but leaves every file's zone for
column B spanning the whole domain — a predicate on B prunes nothing.
Interleaving the bits of the clustered columns (Morton order, 1966)
bounds every range-partitioned file to a small hyper-rectangle of the
key space, so range predicates on ANY clustered column skip files.
This is the public Delta/Iceberg `OPTIMIZE ZORDER BY` recipe, built
here from pure Column arithmetic — shiftleft / shiftright / bitwiseOR
terms that stay inside whole-stage codegen; no UDF, no Python in the
hot path.

No reference analog: the reference reads its tables through Postgres
indexes (`etl/storage/storage.go`); at 100 TB of parquet the
equivalent of "the index" is file-level skipping, and z-order is what
makes it multi-column.

Scale shape: one bounded min/max aggregate (2·|cols| scalars to the
driver), one range-partitioning shuffle (the rewrite IS the point of
an OPTIMIZE pass), footer-only stats lift, one manifest CAS commit.
Reads list files from the manifest and intersect zones per predicate
column — Spark never opens, or even LISTs, a pruned file.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from block_explorer_spark.sources import manifest as M

#: Largest exactly-representable integer span in the double math used
#: by the unit scaling; bounds wider than this would quantize wrongly.
_MAX_EXACT = 2**52


def _unit(col: str, lo: float, hi: float, bits: int) -> Column:
    """Scale a numeric column linearly into [0, 2**bits) as a long.
    NULLs map to 0 (they cluster into the low corner and are never
    dropped — pruning keeps any file whose zone touches the box, and
    the row-level filter is always re-applied). Out-of-bounds values
    (data drift after bounds were computed) clamp to the edges, which
    widens zones but never loses rows."""
    top = (1 << bits) - 1
    span = float(hi) - float(lo)
    if not (span > 0):  # constant column (or inverted bounds): one bucket
        return F.lit(0).cast("long")
    u = F.floor((F.col(col).cast("double") - F.lit(float(lo))) * top / span)
    u = F.least(F.greatest(u, F.lit(0)), F.lit(top))
    return F.coalesce(u, F.lit(0)).cast("long")


def zvalue(
    cols: list[str], bounds: dict[str, tuple[float, float]], bits: int = 12
) -> Column:
    """The Morton key: per-column unit scale, then bit interleave —
    bit b of column i lands at position b·|cols| + i. bits·|cols| must
    fit a signed long. Pure Column expressions (2·bits·|cols| shift/
    mask/or terms), evaluated JVM-side under codegen."""
    if not cols:
        raise ValueError("zvalue needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError(f"bits*cols = {bits * len(cols)} exceeds 62")
    units = [_unit(c, *bounds[c], bits) for c in cols]
    terms = [
        F.shiftleft(F.shiftright(u, b).bitwiseAND(F.lit(1)), b * len(units) + i)
        for b in range(bits)
        for i, u in enumerate(units)
    ]
    return reduce(lambda a, c: a.bitwiseOR(c), terms)


def column_bounds(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """Global [min, max] per clustered column — one aggregate, 2·|cols|
    scalars collected (bounded by construction)."""
    row = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    out: dict[str, tuple[float, float]] = {}
    for c in cols:
        lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
        lo = 0.0 if lo is None else float(lo)
        hi = 0.0 if hi is None else float(hi)
        if max(abs(lo), abs(hi), abs(hi - lo)) > _MAX_EXACT:
            raise ValueError(f"bounds for {c} exceed exact double range")
        out[c] = (lo, hi)
    return out


def _layouts(cur: dict) -> dict:
    """The snapshot's per-family z-order meta, `meta["zorder"][family]
    = {cols, bits, bounds}` — several clustered families (e.g. a
    records table and an events table) coexist under one store base
    without the writers clobbering each other. The single-family
    shape an earlier round wrote (`{family, cols, ...}` at the top)
    raises, naming `migrate`."""
    z = cur.get("meta", {}).get("zorder") or {}
    if "cols" in z:
        raise RuntimeError(
            "z-order meta is in the single-family shape an earlier round "
            "wrote; run zorder.migrate(base) once"
        )
    return z


def zorder_meta(cur: dict, family: str) -> dict | None:
    """The family's zorder layout entry from a manifest snapshot."""
    return _layouts(cur).get(family)


def _merge_zorder(cur: dict, family: str, entry: dict) -> dict:
    """A full meta dict for commit: the snapshot's meta with ONLY this
    family's zorder entry replaced. Never drops other features' meta
    (bm25 stats, another family's layout) — writers that passed a
    fresh dict here used to silently destroy them."""
    meta = dict(cur.get("meta", {}))
    meta["zorder"] = {**_layouts(cur), family: entry}
    return meta


def migrate(base: str) -> int | None:
    """Rewrite the single-family z-order meta an earlier round wrote
    into the per-family shape in ONE meta-only CAS commit (data files
    and zones untouched). Returns the committed version, or None when
    the meta is already per-family (a second call commits nothing)."""

    def attempt(snap, _stage):
        z = snap["meta"].get("zorder") or {}
        if "cols" not in z:
            return None, None
        meta = dict(snap["meta"])
        entry = {k: v for k, v in z.items() if k != "family"}
        meta["zorder"] = {z["family"]: entry}
        return snap["version"] + 1, {"families": snap["families"], "meta": meta}

    return M.transact(base, attempt)


def cluster_write(
    df: DataFrame,
    base: str,
    family: str,
    cols: list[str],
    bits: int = 12,
    num_files: int = 32,
) -> int:
    """Rewrite `family` z-ordered by `cols` (an OPTIMIZE-style full
    layout pass): range-partition on the Morton key so each output
    file owns a contiguous z-range (a hyper-rectangle of the key
    space), sort within files for row-group-level stats, lift per-file
    [min, max] for every clustered column from the parquet footers,
    and publish data + zone maps in ONE manifest CAS swap. Returns the
    committed version."""
    bounds = column_bounds(df, cols)
    z = zvalue(cols, bounds, bits)
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    entry = {"cols": cols, "bits": bits,
             "bounds": {c: list(bounds[c]) for c in cols}}

    def attempt(snap, stage):
        meta = _merge_zorder(snap, family, entry)  # refuses an older meta shape
        fams = dict(snap["families"])
        fams[family] = stage.df(clustered, family)
        return snap["version"] + 1, {
            "families": fams,
            "meta": meta,
            "stats": M.file_stats(base, fams[family], cols),
        }

    return M.transact(base, attempt)


def pruned_files(
    base: str,
    family: str,
    predicates: dict[str, tuple[float | None, float | None]],
    manifest: dict | None = None,
) -> tuple[list[str], int]:
    """(surviving relpaths, total live files): intersect the family's
    per-file zones with every predicate column's [lo, hi]. Files with
    no recorded stats for a column are KEPT (conservative — see
    manifest.prune_by_stats)."""
    m = manifest if manifest is not None else M.read(base)
    rels = list(m.get("families", {}).get(family, []))
    total = len(rels)
    for col, (lo, hi) in predicates.items():
        rels = M.prune_by_stats(m, family, col, lo=lo, hi=hi, rels=rels)
    return rels, total


def read_clustered(
    spark: SparkSession,
    base: str,
    family: str,
    predicates: dict[str, tuple[float | None, float | None]],
) -> DataFrame:
    """Read the family with manifest-side file skipping, then re-apply
    the predicates row-level (zones admit whole files; rows inside a
    kept file can still miss the box). Correctness never depends on
    the layout — z-order only changes how many files survive."""
    m = M.read(base)
    keep, _total = pruned_files(base, family, predicates, manifest=m)
    all_rels = m.get("families", {}).get(family, [])
    if not all_rels:
        raise FileNotFoundError(f"family {family!r} has no committed files")
    paths = [os.path.join(base, r) for r in (keep or all_rels)]
    df = spark.read.parquet(*paths)
    if not keep:  # every file pruned: correct empty result, same schema
        df = df.limit(0)
    for col, (lo, hi) in predicates.items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df
