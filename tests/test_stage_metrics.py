"""StageMetrics.delta must stay non-negative under UI stage eviction.

Round-9 BENCH_METRICS.json carried negative executorCpuTime/numTasks
for q134: the old totals() summed whatever completed stages the UI
store still retained, so when eviction dropped stages between the
before/after snapshots the subtraction went negative. delta() now
attributes work per stage attempt and clamps, so eviction and retries
can only under-count, never produce negative fields. Snapshots are a
typed StageSnapshot (totals: pure ints; stages: per-attempt detail) —
the r10 "__stages__" magic key no longer leaks a non-int into the
totals dict (ADVICE r10).
"""

from __future__ import annotations

import pytest

from block_explorer_spark import metrics as Mx
from block_explorer_spark.metrics import (
    FIELDS,
    MetricsRegistry,
    StageMetrics,
    StageSnapshot,
)


def _snap(stages: dict[str, dict[str, int]]) -> StageSnapshot:
    totals = dict.fromkeys(FIELDS, 0)
    full = {
        key: {f: vals.get(f, 0) for f in FIELDS} for key, vals in stages.items()
    }
    for vals in full.values():
        for f in FIELDS:
            totals[f] += vals[f]
    return StageSnapshot(totals, full)


def test_snapshot_totals_are_pure_ints():
    snap = _snap({"1.0": {"numTasks": 3}})
    assert set(snap.totals) == set(FIELDS)
    assert all(isinstance(v, int) for v in snap.totals.values())


def test_delta_counts_new_stages():
    before = _snap({"1.0": {"numTasks": 10, "executorCpuTime": 100}})
    after = _snap(
        {
            "1.0": {"numTasks": 10, "executorCpuTime": 100},
            "2.0": {"numTasks": 5, "executorCpuTime": 40},
        }
    )
    d = StageMetrics.delta(before, after)
    assert d["numTasks"] == 5
    assert d["executorCpuTime"] == 40


def test_delta_nonnegative_under_eviction():
    # stage 1.0 counted in `before` is evicted from the UI store by
    # the time of `after`; the old subtraction went negative here.
    before = _snap({"1.0": {"numTasks": 102, "executorCpuTime": 46_000}})
    after = _snap({"2.0": {"numTasks": 7, "executorCpuTime": 3_000}})
    d = StageMetrics.delta(before, after)
    assert all(v >= 0 for v in d.values()), d
    assert d["numTasks"] == 7
    assert d["executorCpuTime"] == 3_000


def test_delta_retry_same_stage_growth():
    # a re-attempt appears as a new (stageId, attemptId) key; growth of
    # an existing key (running stage polled twice) counts the increment
    before = _snap({"3.0": {"numTasks": 4}})
    after = _snap({"3.0": {"numTasks": 6}, "3.1": {"numTasks": 2}})
    d = StageMetrics.delta(before, after)
    assert d["numTasks"] == 4


def test_snapshot_with_spark_without_ui_reports_no_totals(spark):
    """The test session runs with the UI disabled: StageMetrics raises
    RuntimeError, and the snapshot keeps its endpoint timers with
    `spark_stage_totals: None`."""
    reg = MetricsRegistry()
    reg.observe("get_pulse", 0.01)
    out = reg.snapshot_with_spark(spark)
    assert out["spark_stage_totals"] is None
    assert out["endpoints"]["get_pulse"]["count"] == 1


def test_snapshot_with_spark_propagates_unexpected_errors(spark, monkeypatch):
    """Only what StageMetrics raises for a missing or unreadable UI is
    caught; any other exception is a bug and reaches the caller."""

    def broken(self, spark_):
        raise TypeError("injected")

    monkeypatch.setattr(Mx.StageMetrics, "__init__", broken)
    with pytest.raises(TypeError, match="injected"):
        MetricsRegistry().snapshot_with_spark(spark)
