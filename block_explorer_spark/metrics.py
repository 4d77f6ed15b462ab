"""Per-query execution metrics via Spark's public monitoring REST API.

The reference instruments every storage operation with Prometheus
timers and gauges (etl/storage/storage_metrics.go:1-125,
etl/extractor/metrics.go). Spark already measures the equivalent —
task time, input volume, shuffle read/write, spill — per stage; this
module snapshots the completed-stage totals around a unit of work and
reports the delta, giving each benchmark query a task/shuffle/spill
profile without any listener plumbing (the REST monitoring API is the
stable public surface; a py4j SparkListener would need the callback
server).

Requires a session built with spark.ui.enabled=true (the engine's
default session disables the UI; bench.py opts in).
"""

from __future__ import annotations

import json
import urllib.request

#: Stage fields summed into a profile — the same quantities
#: storage_metrics.go exports as timers/counters, plus shuffle/spill
#: which have no reference analog but dominate at 100 TB.
FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numTasks",
)


class StageSnapshot:
    """Typed snapshot of completed stages: `totals` (field sums, pure
    ints — safe to serialize/sum directly) and `stages` (per-stage-
    attempt detail delta() needs to stay monotone under UI-store
    eviction). Replaces the r10 magic "__stages__" key that leaked a
    non-int value into the totals dict (ADVICE r10)."""

    __slots__ = ("totals", "stages")

    def __init__(self, totals: dict[str, int], stages: dict[str, dict[str, int]]):
        self.totals = totals
        self.stages = stages


class StageMetrics:
    """Snapshot/delta collector over completed stages."""

    def __init__(self, spark):
        self._spark = spark
        ui = spark.sparkContext.uiWebUrl
        if not ui:
            raise RuntimeError("Spark UI disabled; build the session with spark.ui.enabled=true")
        app_id = spark.sparkContext.applicationId
        self._url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"

    def snapshot(self) -> StageSnapshot:
        """Field totals over completed stages, plus per-stage-attempt
        detail — delta() needs the detail to stay monotone when the
        UI store evicts old completed stages between snapshots (the
        r9 BENCH_METRICS q134 negative-delta bug: whole-run totals
        shrank when eviction removed stages counted in `before`)."""
        with urllib.request.urlopen(self._url, timeout=10) as resp:
            stages = json.loads(resp.read())
        per: dict[str, dict[str, int]] = {}
        for st in stages:
            key = f"{st.get('stageId')}.{st.get('attemptId')}"
            per[key] = {f: int(st.get(f, 0)) for f in FIELDS}
        out = dict.fromkeys(FIELDS, 0)
        for vals in per.values():
            for f in FIELDS:
                out[f] += vals[f]
        return StageSnapshot(out, per)

    # back-compat spelling used by bench/scale scripts
    totals = snapshot

    @staticmethod
    def delta(before: StageSnapshot, after: StageSnapshot) -> dict[str, int]:
        """Metrics attributable to work between two snapshots: stages
        NEW since `before` plus per-stage growth, clamped at zero per
        stage — UI eviction between snapshots can no longer drive any
        field negative."""
        out = dict.fromkeys(FIELDS, 0)
        for key, vals in after.stages.items():
            prev = before.stages.get(key)
            for f in FIELDS:
                out[f] += max(0, vals[f] - (prev[f] if prev else 0))
        return out

    def measure(self, fn):
        """Run fn(); return (fn_result, stage-metrics delta)."""
        before = self.snapshot()
        result = fn()
        return result, self.delta(before, self.snapshot())


# ---------------------------------------------------------------------------
# Continuous serving metrics (reference parity: Prometheus timers)
# ---------------------------------------------------------------------------

import threading
import time
from contextlib import contextmanager


class MetricsRegistry:
    """Continuous per-operation timers for the serving path — the
    analog of the reference's Prometheus instrumentation
    (etl/storage/storage_metrics.go:1-125 registers per-op
    *_duration_seconds timers + error counters; exporter/metrics
    serves them over HTTP). Every REST endpoint observes into this
    registry on every call — normal operation, not just bench runs —
    and the registry renders both Prometheus exposition text
    (`/metrics`) and JSON (`/metrics.json`).

    Thread-safe: the HTTP facade is a ThreadingHTTPServer. Bounded
    memory: per-op latency samples cap at MAX_SAMPLES; beyond that a
    deterministic stride-replacement keeps a stable spread without
    unbounded growth (quantiles over the retained window).
    """

    MAX_SAMPLES = 4096

    def __init__(self, namespace: str = "block_explorer"):
        self.namespace = namespace
        self._lock = threading.Lock()
        self._ops: dict[str, dict] = {}

    def observe(self, op: str, seconds: float, error: bool = False) -> None:
        with self._lock:
            st = self._ops.setdefault(
                op,
                {"count": 0, "errors": 0, "sum": 0.0, "min": None, "max": 0.0, "samples": []},
            )
            st["count"] += 1
            st["errors"] += 1 if error else 0
            st["sum"] += seconds
            st["min"] = seconds if st["min"] is None else min(st["min"], seconds)
            st["max"] = max(st["max"], seconds)
            if len(st["samples"]) < self.MAX_SAMPLES:
                st["samples"].append(seconds)
            else:
                st["samples"][st["count"] % self.MAX_SAMPLES] = seconds

    def reset(self) -> None:
        """Restart the observation window. Serves the measurement-
        window problem short benchmark runs have: over N+1 requests
        where the first carries one-time process warmup (HTTP/JSON
        paths, row rendering), p95 degenerates to that first sample.
        A long-lived server amortizes it to nothing; a bench resets
        after its warmup round and reports the steady-state window —
        recording the firsts separately, not hiding them
        (scripts/loadtest.py: first_request_ms)."""
        with self._lock:
            self._ops = {}

    @contextmanager
    def timer(self, op: str):
        t0 = time.perf_counter()
        try:
            yield
        except Exception:
            self.observe(op, time.perf_counter() - t0, error=True)
            raise
        self.observe(op, time.perf_counter() - t0)

    @staticmethod
    def _quantile(sorted_samples: list[float], q: float) -> float:
        if not sorted_samples:
            return 0.0
        i = min(len(sorted_samples) - 1, max(0, int(q * len(sorted_samples)) - (q >= 1.0)))
        return sorted_samples[min(i, len(sorted_samples) - 1)]

    def snapshot(self) -> dict:
        """Per-op {count, errors, sum_ms, min/p50/p95/p99/max ms}."""
        out = {}
        with self._lock:
            items = [(op, dict(st, samples=list(st["samples"]))) for op, st in self._ops.items()]
        for op, st in items:
            s = sorted(st["samples"])
            out[op] = {
                "count": st["count"],
                "errors": st["errors"],
                "sum_ms": round(st["sum"] * 1000, 3),
                "min_ms": round((st["min"] or 0.0) * 1000, 3),
                "p50_ms": round(self._quantile(s, 0.50) * 1000, 3),
                "p95_ms": round(self._quantile(s, 0.95) * 1000, 3),
                "p99_ms": round(self._quantile(s, 0.99) * 1000, 3),
                "max_ms": round(st["max"] * 1000, 3),
            }
        return out

    def prometheus_text(self) -> str:
        """Prometheus exposition format (the reference's wire format):
        <ns>_<op>_duration_seconds summary + _errors_total counter."""
        lines = []
        snap = self.snapshot()
        for op, st in sorted(snap.items()):
            base = f"{self.namespace}_{op}_duration_seconds"
            lines.append(f"# TYPE {base} summary")
            for q in ("0.5", "0.95", "0.99"):
                key = f"p{int(float(q) * 100)}_ms"
                lines.append(f'{base}{{quantile="{q}"}} {st[key] / 1000.0:.6f}')
            lines.append(f"{base}_sum {st['sum_ms'] / 1000.0:.6f}")
            lines.append(f"{base}_count {st['count']}")
            err = f"{self.namespace}_{op}_errors_total"
            lines.append(f"# TYPE {err} counter")
            lines.append(f"{err} {st['errors']}")
        return "\n".join(lines) + "\n"

    def snapshot_with_spark(self, spark) -> dict:
        """snapshot() + cumulative Spark stage totals (tasks, input,
        shuffle, spill) when the monitoring UI is enabled — the
        per-endpoint latency + task-level profile in one artifact.
        The totals are None when StageMetrics cannot read them: the UI
        is disabled (RuntimeError), the REST call fails (OSError,
        which covers URLError) or its body is not JSON (ValueError).
        Any other exception is a bug and propagates."""
        out = {"endpoints": self.snapshot()}
        try:
            out["spark_stage_totals"] = StageMetrics(spark).snapshot().totals
        except (RuntimeError, OSError, ValueError):
            out["spark_stage_totals"] = None
        return out
