"""Custom stateful streaming operators.

The reference's controller holds an in-memory register
pulse → {jet_ids} guarded by a mutex, polled by goroutines that flip
pulses to complete once the jet set covers the binary trie
(etl/controller/controller.go:100-132, pulsemaintainer.go:145-212).
`completeness_tracker` is that register as a Structured Streaming
operator: per-pulse state lives in the state store (checkpointed,
restart-safe — the property the reference has to rebuild by scanning
the DB on startup, controller.go:55-78), updated incrementally per
micro-batch, emitting exactly one row when a pulse completes.

Sessions, by contrast, need no custom state: Spark's native
session_window covers the semantics JVM-side, so
`sessionize_stream` stays off the Python/UDF slow path entirely.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from block_explorer_spark.functions.jets import trie_covered

#: one row per pulse, emitted the micro-batch its trie closes (or on
#: state timeout with is_complete=false — the D6 reload signal).
COMPLETENESS_OUTPUT = T.StructType(
    [
        T.StructField("pulse_number", T.LongType(), False),
        T.StructField("n_jet_drops", T.IntegerType(), False),
        T.StructField("is_complete", T.BooleanType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("jet_ids", T.ArrayType(T.StringType()), True),
        T.StructField("emitted", T.BooleanType(), True),
    ]
)


def _make_track(timeout_ms: int | None):
    def _track(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (pulse_number,) = key
        if state.hasTimedOut:
            # Pulse never completed within the TTL: emit the incomplete
            # marker (the reload trigger analog of pulsemaintainer.go's
            # gap handling) and drop the state.
            jet_ids, emitted = state.get
            state.remove()
            if not emitted:
                yield pd.DataFrame(
                    {
                        "pulse_number": [pulse_number],
                        "n_jet_drops": [len(jet_ids or [])],
                        "is_complete": [False],
                    }
                )
            return

        seen: set[str] = set()
        emitted = False
        if state.exists:
            jet_ids, emitted = state.get
            seen.update(jet_ids or [])
        for pdf in pdfs:
            seen.update(pdf["jet_id"])

        if not emitted and trie_covered(list(seen)):
            emitted = True
            yield pd.DataFrame(
                {
                    "pulse_number": [pulse_number],
                    "n_jet_drops": [len(seen)],
                    "is_complete": [True],
                }
            )
        state.update((sorted(seen), emitted))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)

    return _track


def completeness_tracker(drops: DataFrame, timeout_ms: int | None = 1_200_000) -> DataFrame:
    """D4 as an incremental streaming operator.

    Input: a streaming DataFrame with (pulse_number, jet_id) columns.
    Output (append mode): one row per pulse when its jet set first
    covers the trie, or an is_complete=false row if the state times
    out before coverage (default 1200 s — the reference's reload TTL,
    configuration/configuration.go:117-121).

    `timeout_ms=None` disables the TTL (NoTimeout). Note that with a
    processing-time timeout armed, the engine keeps scheduling empty
    micro-batches to evaluate expirations, so `processAllAvailable()`
    never drains — bounded/test harnesses should pass None and handle
    stale pulses with the gap scan of a batch control pass
    (streaming/pipeline.run_control_pass) instead.

    State is per-pulse — small (a few hundred jet strings) and keyed
    exactly like a shuffle partition, so a 1000-executor cluster
    spreads pulses across state-store partitions with no hot key: at
    any moment only the pulses near the stream head have live state.
    """
    timeout = (
        GroupStateTimeout.NoTimeout
        if timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        drops.select("pulse_number", "jet_id")
        .groupBy("pulse_number")
        .applyInPandasWithState(
            _make_track(timeout_ms),
            COMPLETENESS_OUTPUT,
            _STATE_SCHEMA,
            "append",
            timeout,
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming session windows — built-in session_window, no UDF.

    Watermark bounds state: sessions older than `watermark` past the
    max seen event time are finalized and their state evicted, which
    is what keeps per-executor state size flat on an unbounded stream.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), f"{gap_seconds} seconds"))
        .agg(
            F.count(F.lit(1)).alias("session_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            user_col,
            F.col("session_window.start").alias("window_start"),
            F.col("session_window.end").alias("window_end"),
            "session_events",
            "session_start",
            "session_end",
        )
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 minute",
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window aggregate with watermark-bounded state.

    In append mode a window emits exactly once — when the watermark
    (max seen event time − delay) passes its end — and its state is
    evicted; events arriving later than the watermark are dropped,
    never double-counted. This is the late-data contract the
    reference's controller approximates with its reload TTL
    (configuration/configuration.go:117-121): data later than the
    horizon requires an explicit backfill, the hot path stays bounded.
    (Pinned by test_stateful_streaming::test_windowed_counts_late_data.)
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.window(F.col(ts_col), window))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            key_col,
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Sliding-window aggregate (hopping rate metrics — the moving
    event-rate view a monitoring surface reads). Each event lands in
    window/slide buckets; state per open window is evicted by the
    watermark exactly as in windowed_counts. Map-side, an event
    expands to its bucket set before the shuffle — the partial-agg
    path Spark plans for window() natively."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.window(F.col(ts_col), window, slide))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
        )
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    lower: str = "INTERVAL 0 SECONDS",
    upper: str = "INTERVAL 10 MINUTES",
    left_watermark: str = "10 minutes",
    right_watermark: str = "20 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition
    (right event within [left_ts, left_ts + upper], the
    attribution-join shape: click → purchase within N minutes).

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, which is what lets Spark compute the
    state-eviction horizon for each side (unbounded state otherwise).
    At scale the join shuffles both streams on the key once; state per
    key is bounded by the interval width.

    how='left_outer': unmatched left rows emit null-padded — but only
    once the watermark passes their join window (Spark must prove no
    future right row can match before it can emit the negative);
    until then they sit in state. This is the "clicks that never
    converted" shape, and the emission delay is the price of
    correctness on an unbounded stream.
    """
    lw = left.withWatermark(left_ts, left_watermark)
    rw = right.withWatermark(right_ts, right_watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts] + F.expr(lower))
        & (rw[right_ts] <= lw[left_ts] + F.expr(upper))
    )
    return lw.join(rw, cond, how).drop(rw[key])


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps a key's fingerprint only
    until the watermark passes its event time, then evicts — the
    at-least-once → exactly-once repair for a replaying source
    (the reference re-pulls overlapping record batches on reconnect;
    extractor retry loop, platform_impl.go:225-326). An unbounded
    dropDuplicates would grow state forever on a 100 TB/day stream;
    the watermark variant holds only the replay horizon."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
