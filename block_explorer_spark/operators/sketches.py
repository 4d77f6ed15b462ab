"""Mergeable sketch operators: HyperLogLog distinct counting,
count-min heavy hitters, Bloom-filter membership, KMV bottom-k
sampling with sample quantiles.

Why sketches, and why here: at 100 TB an exact COUNT(DISTINCT key)
shuffles every distinct key, an exact percentile sorts the whole
column, and an exact heavy-hitter pass keeps the full vocabulary in
the aggregation hash map. A sketch replaces each with a tiny
MERGEABLE state — map-side partial sketches combine associatively,
so the shuffle moves kilobytes per partition regardless of input
size, and the same state can be merged across days/splits/tables
without touching the raw data again. This is the standard lakehouse
answer (Spark's own approx_count_distinct is an HLL++); the reference
has no approximate aggregates (SURVEY §2.4 — plain counts/min/max,
`etl/storage/storage.go:229-255`), so this module is part of the
extended LLM-data-pipeline surface, not reference parity.

Why not Spark's built-ins: `approx_count_distinct` / `percentile_approx`
are black-box (their hash and merge order are not replayable outside
Spark), so their outputs can't be certified against an external
oracle. Every sketch here is built on the portable md5-derived
60-bit hash (same construction as dedup.md5_hash60) and keeps its
accumulator arithmetic in INTEGERS until one final division, so the
estimate — not just the exact answer — is bit-reproducible in
ANSI SQL (DuckDB oracle) and across engines. Error bounds are then
pinned by tests against the exact answers, and mergeability is
pinned by register-level union tests.

Design notes per sketch:

- HLL (Flajolet et al. 2007, HyperLogLog: the analysis of a
  near-optimal cardinality estimation algorithm): registers are rows
  (group, register, max_rho) — the relational encoding of the 2^p
  byte array. sum(2^-rho) is computed as an integer sum of
  2^(maxrho - rho) (all terms are exact powers of two ≤ 2^(maxrho)),
  so the harmonic mean is order-independent — a float sum over a
  shuffle would not be. One shuffle of ≤ m rows per group.
- CMS (Cormode & Muthukrishnan 2005, An improved data stream
  summary: the count-min sketch): the d×w counter matrix is rows
  (d, bucket, cnt) — integer counts, one shuffle of ≤ d·w rows.
  Estimates are min over d broadcast-joined counters; the classic
  guarantee est ≥ true is test-pinned.
- Bloom (Bloom 1970): the bit array is the distinct set of k·|S|
  positions — broadcast-joinable (a 2^20-bit filter is ≤ 128 KiB
  dense; relationally it is the position set). Membership = all k
  probe positions present. No false negatives is test-pinned.
- KMV / bottom-k (Bar-Yossef et al. 2002): a deterministic
  hash-ordered top-k (TakeOrderedAndProject — no global sort), giving
  a uniform-without-replacement sample any executor count reproduces
  exactly; quantiles over the sample are exact order statistics of a
  bounded (≤ k rows) set.

No reference analog (extended surface); cited against SURVEY §2.4's
"no approximate aggregates" note.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Bits of the portable md5-derived hash (15 hex chars < 2^60 keeps
#: signed-long parity with the SQL oracle — no two's-complement games).
HASH_BITS = 60


def hash60(col: Column | str, seed: int | Column = 0) -> Column:
    """Portable seeded 60-bit hash: top 15 hex chars of
    md5('<seed>:' || value). Exactly replayable in DuckDB as
    ('0x' || substr(md5(seed || ':' || v), 1, 15))::BIGINT.

    Seeding by prefixing (not re-hashing) keeps every seed one md5
    of the raw value — the oracle never chains hashes.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.lit(str(seed)) if isinstance(seed, int) else seed.cast("string")
    return F.conv(
        F.substring(F.md5(F.concat(s, F.lit(":"), c.cast("string")).cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def hll_alpha(m: int) -> float:
    """Standard HLL bias-correction constant for m >= 128 registers."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    key: Column | str,
    group_cols: list[str] | tuple[str, ...] = (),
    p: int = 12,
    seed: int = 0,
) -> DataFrame:
    """The HLL sketch as rows: (group_cols..., register, max_rho).

    register = h mod 2^p; rho = leading-zero count of the remaining
    (60 - p) bits + 1, computed EXACTLY via the bit-length of the
    quotient (length of its base-2 string — no float log2, whose
    rounding at exact powers of two differs across engines).

    This IS the mergeable state: union two register tables and
    re-take max(rho) per register to merge sketches (hll_merge);
    partial aggregation makes the map side emit ≤ m rows per task.
    """
    m = 1 << p
    rest_bits = HASH_BITS - p
    h = hash60(key, seed)
    # Integer division (`div`), NOT float `/` + cast: doubles lose
    # integer precision past 2^53, and h ranges up to 2^60.
    base = df.select(
        *[F.col(g) for g in group_cols],
        h.alias("__hll_h"),
    ).select(
        *[F.col(g) for g in group_cols],
        (F.col("__hll_h") % m).alias("register"),
        F.expr(f"__hll_h div {m}").alias("__rest"),
    )
    rho = (
        F.when(F.col("__rest") == 0, F.lit(rest_bits + 1))
        .otherwise(F.lit(rest_bits + 1) - F.length(F.conv(F.col("__rest"), 10, 2)))
        .cast("int")
    )
    return (
        base.select(*[F.col(g) for g in group_cols], "register", rho.alias("__rho"))
        .groupBy(*[F.col(g) for g in group_cols], F.col("register"))
        .agg(F.max("__rho").alias("max_rho"))
    )


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """Merge sketches: union register tables, max(rho) per register.

    This one-liner is the whole point of mergeable sketches — daily
    partial sketches combine without rescanning the raw data.
    """
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionByName(t)
    keys = [c for c in out.columns if c != "max_rho"]
    return out.groupBy(*keys).agg(F.max("max_rho").alias("max_rho"))


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str] | tuple[str, ...] = (),
    p: int = 12,
) -> DataFrame:
    """Cardinality estimate from a register table, with the standard
    small-range (linear counting) correction.

    Integer-exact core: S = sum over PRESENT registers of
    2^(maxrho - max_rho) plus 2^maxrho per absent register — every
    term a power of two ≤ 2^49 (p=12), total < 2^62, summed as
    longs so the result is order-independent. The only float ops are
    one constant multiply and one divide at the end (plus ln in the
    linear-counting branch) — bit-identical in any IEEE-754 engine,
    which is what lets the DuckDB oracle hash-match the ESTIMATE.
    """
    m = 1 << p
    maxrho = HASH_BITS - p + 1
    # NUM = alpha * m^2 * 2^maxrho, embedded as one repr'd double so
    # Spark and the oracle parse the identical constant.
    num = hll_alpha(m) * m * m * float(1 << maxrho)
    s_present = F.sum(F.expr(f"cast(pow(2.0, {maxrho} - max_rho) as long)")).alias("__s")
    agg = registers.groupBy(*[F.col(g) for g in group_cols]).agg(
        s_present, F.count("*").alias("__present")
    )
    z = F.lit(m) - F.col("__present")
    s_total = F.col("__s") + z * F.lit(1 << maxrho).cast("long")
    e_raw = F.lit(num) / s_total.cast("double")
    est = F.when(
        (z > 0) & (e_raw <= F.lit(2.5 * m)), F.lit(float(m)) * F.log(F.lit(float(m)) / z)
    ).otherwise(e_raw)
    return agg.select(
        *[F.col(g) for g in group_cols], F.round(est, 3).alias("hll_estimate")
    )


def hll_distinct(
    df: DataFrame,
    key: Column | str,
    group_cols: list[str] | tuple[str, ...] = (),
    p: int = 12,
    seed: int = 0,
) -> DataFrame:
    """groupBy(group_cols).approx_count_distinct(key), oracle-replayable."""
    return hll_estimate(hll_registers(df, key, group_cols, p, seed), group_cols, p)


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def cms_counters(
    df: DataFrame,
    key: Column | str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """The d×w counter matrix as rows (d, bucket, cnt).

    One explode (×depth) then one shuffle whose output is ≤ d·w rows
    — map-side partial counts collapse the stream no matter how many
    input rows. Mergeable: union + re-sum.
    """
    c = F.col(key) if isinstance(key, str) else key
    rows = df.select(c.alias("__k")).select(
        "__k", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d")
    )
    bucket = (hash60("__k", F.col("d")) % width).alias("bucket")
    return rows.select("d", bucket).groupBy("d", "bucket").agg(
        F.count("*").alias("cnt")
    )


def cms_estimate(
    counters: DataFrame,
    keys: DataFrame,
    key: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point estimates for candidate keys: min over the d counters.

    `counters` is ≤ d·w rows → broadcast; the probe never shuffles
    the candidate side. Guarantee (test-pinned): est >= true count.
    """
    probes = keys.select(F.col(key).alias("__k")).distinct().select(
        "__k", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d")
    )
    probes = probes.select("__k", "d", (hash60("__k", F.col("d")) % width).alias("bucket"))
    joined = probes.join(F.broadcast(counters), ["d", "bucket"], "left").fillna(
        0, subset=["cnt"]
    )
    return joined.groupBy("__k").agg(F.min("cnt").alias("cms_estimate")).select(
        F.col("__k").alias(key), "cms_estimate"
    )


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


def bloom_positions(
    df: DataFrame, fp_col: Column | str, k: int = 3, m_bits: int = 1 << 18
) -> DataFrame:
    """Build the filter from a fingerprint column: the distinct set of
    k·|S| bit positions (column `pos`). Dense this is m_bits/8 bytes
    — broadcastable; the relational encoding keeps the build one
    distinct-shuffle of ≤ k·|S| ints.
    """
    c = F.col(fp_col) if isinstance(fp_col, str) else fp_col
    # NULL keys can never equal anything in an equi-join, so a NULL
    # fingerprint contributes no positions (and would otherwise poison
    # bloom_bitmap's np.fromiter with None).
    rows = df.select(c.alias("__fp")).filter(F.col("__fp").isNotNull()).select(
        "__fp", F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("d")
    )
    return rows.select((hash60("__fp", F.col("d")) % m_bits).alias("pos")).distinct()


def bloom_probe(
    probe: DataFrame,
    id_col: str,
    fp_col: str,
    positions: DataFrame,
    k: int = 3,
    m_bits: int = 1 << 18,
) -> DataFrame:
    """Membership probe: a fingerprint hits iff ALL k of its positions
    are set. Returns (id_col, n_hits) — per-id count of DISTINCT
    member fingerprints (false positives possible, false negatives
    impossible — test-pinned).

    The positions side is broadcast: the probe side (the 100 TB
    corpus) is scanned once, map-side, no shuffle until the per-id
    count.
    """
    rows = probe.select(F.col(id_col), F.col(fp_col).alias("__fp")).select(
        id_col, "__fp", F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("d")
    )
    rows = rows.select(id_col, "__fp", "d", (hash60("__fp", F.col("d")) % m_bits).alias("pos"))
    hit = rows.join(F.broadcast(positions), "pos")
    # count DISTINCT seeds, not rows: duplicate (id, fp) probe rows
    # would otherwise reach 2k hits and fail the == k test — a false
    # negative, which a bloom filter must never produce.
    full = hit.groupBy(id_col, "__fp").agg(F.count_distinct("d").alias("__nd")).filter(
        F.col("__nd") == k
    )
    return full.groupBy(id_col).agg(F.count_distinct("__fp").alias("n_hits"))


def bloom_bitmap(positions: DataFrame, m_bits: int = 1 << 18) -> bytes:
    """Pack a position set into a dense little-endian bitmap
    (m_bits/8 bytes). The collect is bounded by m_bits/64 longs —
    2^27 bits is a 16 MiB blob serving hundreds of millions of
    members, where the relational position set would be a 100M-row
    join side.
    """
    arr = np.zeros(m_bits // 8, dtype=np.uint8)
    pos = np.fromiter(
        (r["pos"] for r in positions.select("pos").collect()), dtype=np.int64
    )
    np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return arr.tobytes()


def bitmap_member(
    col: Column | str, bitmap: bytes, k: int = 3, m_bits: int = 1 << 18
) -> Column:
    """Boolean bloom-membership column against a closure-shipped
    bitmap: the k positions are computed JVM-side with the portable
    hash; the lookup is one vectorized Arrow batch of numpy bit
    tests. Composable as a plain filter predicate.
    """
    from pyspark.sql.functions import pandas_udf

    arr = np.frombuffer(bitmap, dtype=np.uint8)

    @pandas_udf("boolean")
    def _member(pos_arr: pd.Series) -> pd.Series:
        mat = np.vstack(pos_arr.to_numpy())
        bits = (arr[mat >> 3] >> (mat & 7).astype(np.uint8)) & 1
        return pd.Series(bits.all(axis=1))

    c = F.col(col) if isinstance(col, str) else col
    # NULL input → False (matches inner-join semantics: a NULL key
    # matches nothing). The coalesce keeps the UDF batch free of None
    # entries; the isNotNull AND overrides whatever bit 0 holds.
    pos = F.array(*[F.coalesce(hash60(c, i) % m_bits, F.lit(0)) for i in range(k)])
    return c.isNotNull() & _member(pos)


def bloom_prefilter_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    k: int = 3,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Shuffle-volume optimization for big⋈big low-selectivity joins:
    build a bloom filter over `right`'s join keys, drop `left` rows
    that cannot match BEFORE the join shuffle, then run the ordinary
    equi-join. Results are IDENTICAL to `left.join(right, on, how)`
    for inner/semi joins (bloom has no false negatives — only
    cannot-match rows are dropped; false positives just survive to
    the join, which discards them).

    This is Spark's own runtime row-level filtering
    (spark.sql.optimizer.runtime.bloomFilter) made explicit and
    deterministic: when `right` is small Catalyst would broadcast
    anyway — use this when BOTH sides exceed broadcast size but the
    join keeps few left rows; the m_bits/8-byte bitmap ships in the
    task closure while the full right side never touches the left
    scan. The filter build is one pass over right's keys
    (distinct positions ≤ m_bits), eager at plan-construction time.
    """
    if how not in ("inner", "semi", "left_semi", "leftsemi"):
        raise ValueError(
            f"bloom prefilter preserves results only for inner/semi joins, got {how!r}"
        )
    pos = bloom_positions(right.select(F.col(on).alias("__fp")), "__fp", k, m_bits)
    bm = bloom_bitmap(pos, m_bits)
    filtered = left.filter(bitmap_member(F.col(on), bm, k, m_bits))
    return filtered.join(right, on, how)


# ---------------------------------------------------------------------------
# KMV / bottom-k sampling
# ---------------------------------------------------------------------------


def bottomk_sample(
    df: DataFrame,
    key: Column | str,
    k: int = 256,
    seed: int = 0,
) -> DataFrame:
    """Deterministic uniform sample: the k rows whose hashed key is
    smallest. Plans as TakeOrderedAndProject (per-partition top-k,
    merge at the driver) — no global sort, no RNG, reproducible on
    any cluster size. Rows carry all input columns plus `__hkey`.
    """
    c = F.col(key) if isinstance(key, str) else key
    return df.withColumn("__hkey", hash60(c, seed)).orderBy("__hkey", c).limit(k)


def sample_quantiles(
    sample: DataFrame,
    value_col: str,
    qs: list[float],
) -> DataFrame:
    """Exact order statistics of a bounded sample: for each q, the
    value at 1-based rank floor(q·(n-1)) + 1 of the value-sorted
    sample. The single-partition window is over ≤ k rows by
    construction (same bounded-window argument as selection.py's
    budget cumsum) — not a scale risk.

    Returns (q double, <value_col> at that rank). The rank uses the
    actual sample size n, so short inputs (n < k) stay well-defined
    and the SQL oracle computes the identical index.
    """
    w = Window.orderBy(F.col(value_col))
    ranked = sample.select(
        F.col(value_col),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__n"),
    )
    qrows = ranked.sparkSession.createDataFrame([(float(q),) for q in qs], "q double")
    idx = (F.floor(F.col("q") * (F.col("__n") - 1)) + 1).cast("int")
    # Non-equi condition (rank == f(q, n)) over a ≤ k·|qs| space →
    # broadcast nested-loop, bounded by construction.
    out = ranked.join(F.broadcast(qrows), F.col("__rn") == idx)
    return out.select("q", F.col(value_col))


# ---------------------------------------------------------------------------
# KMV set algebra: union / intersection / Jaccard between key SETS
# ---------------------------------------------------------------------------


def kmv_signature(df: DataFrame, key: Column | str, k: int = 256,
                  seed: int = 0) -> DataFrame:
    """The KMV synopsis of a key SET: the k smallest DISTINCT 60-bit
    hashes (Beyer et al., SIGMOD 2007). One column `hkey` (long),
    ≤ k rows. Construction is distributed — map-side partial distinct
    shrinks the shuffle, then a per-partition top-k merge
    (TakeOrderedAndProject); no global sort. Signatures are the
    mergeable state: sig(A ∪ B) == bottom-k of (sig(A) ∪ sig(B)),
    so segments sketch independently and combine with ≤ 2k rows of
    traffic — the point at 100 TB, where the exact |A ∩ B| would be
    a full shuffle of both key sets."""
    c = F.col(key) if isinstance(key, str) else key
    return (
        df.select(hash60(c, seed).alias("hkey"))
        .distinct()
        .orderBy("hkey")
        .limit(k)
    )


def kmv_set_stats(sig_a: DataFrame, sig_b: DataFrame, k: int = 256) -> dict:
    """Union / intersection cardinality estimates and Jaccard from two
    KMV signatures — all INTEGER arithmetic, exactly replayable in
    SQL:

      K        = bottom-k of the combined signature values
      n_u      = |K|  (< k means the union fits the synopsis: exact)
      u_k      = max(K)
      union_est = n_u                     if n_u < k
                  ((k-1) << 60) // u_k    otherwise
      x        = |{v ∈ K : v ∈ sig_a ∧ v ∈ sig_b}|
      inter_est = (x * union_est) // n_u
      jacc_bp   = (x * 10000) // n_u      (basis points)

    Finishing runs driver-side over the ≤ 2k collected signature
    values (Python big-int — ((k-1) << 60) overflows a long, and
    decimal division would round before floor); the DATA-sized work
    all happened in kmv_signature. Returns a plain dict of ints.
    """
    a = {r["hkey"] for r in sig_a.collect()}
    b = {r["hkey"] for r in sig_b.collect()}
    combined = sorted(a | b)[:k]
    n_u = len(combined)
    if n_u == 0:
        return {"union_est": 0, "inter_est": 0, "jacc_bp": 0}
    if n_u < k:
        union_est = n_u
    else:
        union_est = ((k - 1) << HASH_BITS) // combined[-1]
    x = sum(1 for v in combined if v in a and v in b)
    return {
        "union_est": union_est,
        "inter_est": (x * union_est) // n_u,
        "jacc_bp": (x * 10000) // n_u,
    }


# ---------------------------------------------------------------------------
# Quantile histogram: mergeable log-bucket quantiles (DDSketch-style)
# ---------------------------------------------------------------------------
#
# DDSketch (Masson, Rim & Lee, VLDB 2019) re-derived on the integer
# lattice: the KMV sample above answers quantiles from a UNIFORM
# sample (error in RANK), while this histogram answers with bounded
# RELATIVE VALUE error at every quantile — the right guarantee for
# long-tailed latency/size/price columns, and the one a p99 needs.
# The bucket of a positive integer v is
#
#     e   = floor(log2 v)         (bit-length − 1: EXACT via the
#                                  base-2 digit count, no float log)
#     sub = (v << B) // 2^e − 2^B (top B mantissa bits below the MSB)
#     bucket = (e << B) | sub
#
# — pure integer ops both engines replay verbatim, giving geometric
# buckets with width 2^e/2^B, i.e. relative width ≤ 2^-B. The sketch
# state is (bucket, cnt) rows: ≤ (64−B)·2^B rows total regardless of
# input size, mergeable by SUM (and EXACTLY decrementable on delete:
# the state is plain counters). A quantile query
# walks the ≤ 4k-row CDF and reports the bucket midpoint
# (2^e·(2^B + sub) + 2^e·(2^B + sub + 1)) // 2 / 2^B — floor-integer,
# so estimates (not just counts) are bit-reproducible in the DuckDB
# oracle, with relative error ≤ 2^-(B+1) + floor slack (test-pinned
# against exact percentiles). Zero lands in bucket −1 (exact);
# negatives land on the MIRRORED lattice −2 − bucket(|v|) (DDSketch's
# negative store in one id space — ascending bucket id stays
# ascending value, so the CDF walk needs no special case).


#: Mantissa bits per bucket: 2^-B relative bucket width. B=6 → 64
#: sub-buckets per octave, ≤ 0.8% midpoint error, ≤ 3,712 buckets
#: for the full positive long range.
QHIST_SUB_BITS = 6


def qhist_bucket(col: Column | str, sub_bits: int = QHIST_SUB_BITS) -> Column:
    """Bucket id of an integer column: −1 for zero, the positive
    lattice for v > 0, and the MIRRORED lattice −2 − bucket(|v|) for
    v < 0 (DDSketch's negative store folded into one id space) — the
    mirror reverses sign-magnitude order, so ascending bucket id is
    ascending VALUE across the whole line and the CDF walk needs no
    special case.

    floor(v·2^B / 2^e) is the top B+1 bits of |v| — extracted EXACTLY
    from the base-2 digit string (conv → rpad → conv), because a
    64-bit shift-by-column isn't expressible and a double division
    loses bits past 2^53. rpad both left-pads short values (e < B:
    v·2^(B−e)) and truncates long ones (e ≥ B: the top B+1 digits) —
    the same one-expression semantics DuckDB's rpad has, so the
    oracle replays it verbatim. |v| must stay below 2^62 (bigint
    lattice); cents/bytes/nanoseconds all fit."""
    c = F.col(col) if isinstance(col, str) else col
    v = c.cast("long")
    av = F.abs(v)
    s = F.conv(av, 10, 2)
    e = (F.length(s) - 1).cast("long")
    m = F.conv(F.rpad(s, sub_bits + 1, "0"), 2, 10).cast("long")
    pos = F.shiftleft(e, sub_bits) + (m - F.lit(1 << sub_bits))
    return (
        F.when(v == 0, F.lit(-1).cast("long"))
        .when(v < 0, F.lit(-2).cast("long") - pos)
        .otherwise(pos)
    )


def qhist_state(
    df: DataFrame,
    value: Column | str,
    group_by: list[str] | None = None,
    sub_bits: int = QHIST_SUB_BITS,
) -> DataFrame:
    """The mergeable sketch state: (group..., bucket, cnt). One
    shuffle whose key space is ≤ (64−B)·2^B per group — map-side
    partial aggregation collapses each partition to the bucket set
    before anything moves."""
    keys = list(group_by or [])
    return (
        df.select(*keys, qhist_bucket(value, sub_bits).alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def qhist_merge(*states: DataFrame) -> DataFrame:
    """Union partial states (days / splits / tables) into one: SUM per
    bucket. Associative and commutative — integer counters."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c not in ("cnt",)]
    return out.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def qhist_bucket_mid(col: Column | str, sub_bits: int = QHIST_SUB_BITS) -> Column:
    """Deterministic representative of a bucket: the floor midpoint of
    its value interval [2^e·(2^B+sub)/2^B, 2^e·(2^B+sub+1)/2^B) —
    all integer shifts and one floor division, identical in DuckDB.
    Bucket −1 (zero values) maps to 0; mirrored buckets (< −1) to the
    negated midpoint of their magnitude bucket."""
    b0 = F.col(col) if isinstance(col, str) else col
    b = F.when(b0 < F.lit(-1), F.lit(-2) - b0).otherwise(b0)
    e = F.shiftright(b, sub_bits)
    sub = b - F.shiftleft(e, sub_bits)
    # 2^e is a double with a ONE-bit mantissa and (2m+1) < 2^(B+2):
    # every op below is exact in IEEE double for B ≤ 45, so the floor
    # is the true integer midpoint — the oracle computes the same
    # integer on the HUGEINT lattice.
    two_e = F.pow(F.lit(2.0), e.cast("double"))
    m = (F.lit(1 << sub_bits) + sub).cast("double")
    est = F.floor(two_e * (m + m + F.lit(1.0)) / F.lit(float(2 * (1 << sub_bits))))
    return (
        F.when(b0 == F.lit(-1), F.lit(0).cast("long"))
        .when(b0 < F.lit(-1), -est.cast("long"))
        .otherwise(est.cast("long"))
    )


def qhist_quantiles(
    state: DataFrame,
    probs: list[float],
    group_by: list[str] | None = None,
    sub_bits: int = QHIST_SUB_BITS,
) -> DataFrame:
    """Quantile estimates from the sketch state: for each prob p the
    midpoint of the first bucket whose cumulative count reaches
    ceil(p·n) (the classic lower quantile on the bucket CDF). The
    cumulative window runs over ≤ 4k bucket rows per group — bounded
    by the sketch, not the data (same bounded-window argument as
    sample_quantiles). Returns (group..., prob, est)."""
    keys = list(group_by or [])
    w = (
        Window.partitionBy(*keys).orderBy("bucket")
        if keys
        else Window.partitionBy().orderBy("bucket")
    )
    cdf = state.select(
        *keys,
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy(*keys) if keys else Window.partitionBy()
        ).alias("n"),
    )
    qrows = state.sparkSession.createDataFrame(
        [(float(p),) for p in probs], "prob double"
    )
    hit = cdf.join(F.broadcast(qrows), F.col("cum") >= F.ceil(
        F.col("prob") * F.col("n")
    ))
    return (
        hit.groupBy(*keys, "prob")
        .agg(F.min("bucket").alias("bucket"))
        .select(
            *keys,
            "prob",
            qhist_bucket_mid("bucket", sub_bits).alias("est"),
        )
    )
