"""Adjacent-row sequence operators (SURVEY §2.5 W2).

The reference walks a sorted pulse page imperatively and patches
prev/next links with -1 sentinels where the chain breaks
(etl/storage/storage.go:326-357). Declaratively that is lag/lead over
an ordered window plus F.when sentinel logic — one shuffle-free pass
when the input is a single page, and a range-partitioned window sort
at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from block_explorer_spark import placement

#: API sentinel for "neighbor unknown/missing" (api/mappers.go:68-73).
MISSING = -1


#: Key-range slice width for the bucketed full-table repair path.
#: Bucket count = key_span / width: metadata-sized (one row per
#: non-empty bucket, like a zone-map row per file), so the one global
#: window in the boundary exchange orders bucket AGGREGATES, never
#: data rows.
CHAIN_BUCKET_WIDTH = 100_000


def chain_repair(
    df: DataFrame,
    key: str = "pulse_number",
    prev_link: str = "prev_pulse_number",
    next_link: str = "next_pulse_number",
    window: WindowSpec | None = None,
    bucket_width: int | None = None,
) -> DataFrame:
    """W2: repair prev/next links against the adjacent rows.

    The reference's walk is keyed on PREV links only
    (storage.go:344-350): for each adjacent pair (lower, higher) in
    key order, if higher.prev == lower.key the chain holds and
    lower.next is OVERWRITTEN with higher.key (the stored next may
    name a pulse that never happened — irregular cadence); otherwise
    both sides of the broken edge go to MISSING. Declaratively:
    prev := MISSING unless it matches the lag key; next := the lead
    key iff the lead row's prev link points back here, else MISSING.
    First/last rows get MISSING here — callers that need true edge
    links consult the full table (see plans.queries.get_pulses) or
    prefetch one row each side.

    Callers repairing a bounded page pass `window` (the page-local
    sort); with window=None the FULL-TABLE path runs. ADAPTIVE
    (round 11): inputs that pass placement.small_plan (a Catalyst
    size estimate under 32 MB) take one global ordered window — a
    sub-32 MB single-task sort costs less than the bucketed plan's two
    extra exchanges + join (measured 2.1x wall at gate scale, q03
    0.87 s vs 0.38 s). Larger (or
    unknown-size) inputs — and any call passing an EXPLICIT
    `bucket_width` — keep the round-9 bucketed two-level adjacency,
    which replaced the data-sized single-partition WindowExec — the
    exact shape the bounded-window census forbids:

      1. bucket rows by key-range slice (floor(key / bucket_width) —
         deterministic, no sampled range boundaries that could drift
         between stage recomputations);
      2. lag/lead WITHIN each bucket (partitioned window, parallel);
      3. bucket-boundary exchange: one row of (first/last key,
         first prev-link) per non-empty bucket, lag/lead over THOSE
         — the only global window, ordering metadata-sized bucket
         aggregates (≤ key-span/width rows, one per ~width keys —
         zone-map scale), never data rows;
      4. join the boundary neighbors back on the bucket id and
         patch each bucket's edge rows.

    Output is row-identical to the single-window formulation (the
    adjacency relation doesn't care how it was partitioned); pinned
    by test_pagination_windows::test_chain_repair_bucketed_matches_global.

    reference: etl/storage/storage.go:326-357 (vectorized walk),
    360-379 (single-row variant).
    """
    # adaptive gate: only when the caller didn't EXPLICITLY pick a
    # bucket width (tests/callers pinning the bucketed plan pass one)
    if window is None and bucket_width is None and placement.small_plan(df):
        window = Window.orderBy(key)  # bounded by the size gate
    if bucket_width is None:
        bucket_width = CHAIN_BUCKET_WIDTH
    if window is not None:
        lag_key = F.lag(key).over(window)
        lead_key = F.lead(key).over(window)
        lead_prev = F.lead(prev_link).over(window)
        return _apply_sentinels(df, key, prev_link, next_link, lag_key, lead_key, lead_prev)

    wb = Window.partitionBy("__cb").orderBy(key)
    d = (
        df.withColumn("__cb", F.floor(F.col(key) / F.lit(bucket_width)))
        .withColumn("__lag_key", F.lag(key).over(wb))
        .withColumn("__lead_key", F.lead(key).over(wb))
        .withColumn("__lead_prev", F.lead(prev_link).over(wb))
        .withColumn("__is_first", F.lag(key).over(wb).isNull())
        .withColumn("__is_last", F.lead(key).over(wb).isNull())
    )
    # one aggregate row per non-empty bucket: the rows a neighboring
    # bucket's edge needs (its last key / first key / first prev-link)
    bstats = d.groupBy("__cb").agg(
        F.max(key).alias("__b_last_key"),
        F.min(key).alias("__b_first_key"),
        F.min_by(prev_link, F.col(key)).alias("__b_first_prev"),
    )
    wg = Window.orderBy("__cb")  # metadata-sized: one row per bucket
    bnbr = bstats.select(
        "__cb",
        F.lag("__b_last_key").over(wg).alias("__prev_last_key"),
        F.lead("__b_first_key").over(wg).alias("__next_first_key"),
        F.lead("__b_first_prev").over(wg).alias("__next_first_prev"),
    )
    patched = d.join(bnbr, "__cb")
    lag_key = F.when(F.col("__is_first"), F.col("__prev_last_key")).otherwise(
        F.col("__lag_key")
    )
    lead_key = F.when(F.col("__is_last"), F.col("__next_first_key")).otherwise(
        F.col("__lead_key")
    )
    lead_prev = F.when(F.col("__is_last"), F.col("__next_first_prev")).otherwise(
        F.col("__lead_prev")
    )
    out = _apply_sentinels(patched, key, prev_link, next_link, lag_key, lead_key, lead_prev)
    return out.drop(
        "__cb", "__lag_key", "__lead_key", "__lead_prev", "__is_first", "__is_last",
        "__prev_last_key", "__next_first_key", "__next_first_prev",
    )


def _apply_sentinels(df, key, prev_link, next_link, lag_key, lead_key, lead_prev):
    """The reference's sentinel rules (storage.go:344-350) over any
    adjacency source: keep prev iff it names the adjacent lower key;
    next is the adjacent higher key iff that row's prev points back.

    Both links repair in ONE projection (withColumns), so the two
    window expressions collapse into a single Window node — chained
    withColumn left two same-spec Window nodes in the plan. Equivalent
    either way: the lead row's prev is only consulted where repair
    would keep it unchanged (prev == adjacent key)."""
    return df.withColumns(
        {
            prev_link: F.when(
                lag_key.isNull() | (lag_key != F.col(prev_link)), F.lit(MISSING)
            ).otherwise(F.col(prev_link)),
            next_link: F.when(
                lead_prev.isNotNull() & (lead_prev == F.col(key)), lead_key
            ).otherwise(F.lit(MISSING)),
        }
    )
