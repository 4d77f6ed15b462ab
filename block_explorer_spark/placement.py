"""Driver-vs-cluster placement: one policy for every write-path step,
and the one plan-size gate the operators choose plan shapes by.

A micro-batch commit is fixed-cost bound, not compute bound: every
Spark job it runs (task launch, planning, the parquet committer) costs
~0.3-0.9 s whatever the data size. So a batch the driver can hold
outright runs there, through pandas/pyarrow, and anything bigger runs
as Spark jobs. Each step exists once; only where the batch lives
differs (guide §1.2/§6).

The decision is made from exact counts when the caller has them, and
otherwise by one bounded probe: `collect_bounded` collects at most
ROWS + 1 rows (the LIMIT bounds what the driver ever holds) and
refuses batches over ROWS rows or BYTES Arrow bytes. Driver-side reads
of already-committed files (collision checks, bucket merges, the REST
edge's pruned reads) are capped by their on-disk size, MERGE_BYTES.

ROWS = 0 turns every driver placement of ingest and upsert off. The
control pass (streaming/pipeline.run_control_pass) has no cluster
form: it always sweeps on the driver, one pulse bucket at a time, so
no table size needs a second path. Tests monkeypatch these constants;
nothing reads them from the environment.
"""

from __future__ import annotations

#: Row gate: batches of at most this many rows run on the driver.
ROWS = 65_536
#: Arrow byte backstop for the probe (guards wide binary rows).
BYTES = 128 * 1024 * 1024
#: On-disk byte cap for driver-side reads of committed table files.
MERGE_BYTES = 32 * 1024 * 1024
#: Catalyst size estimate under which `small_plan` holds.
PLAN_BYTES = 32 * 1024 * 1024


def admits(n_rows: int | None = None) -> bool:
    """Whether a batch of n_rows rows may run on the driver (None: the
    count is not known yet and the probe decides)."""
    return ROWS > 0 and (n_rows is None or n_rows <= ROWS)


def collect_bounded(df):
    """The one bounded probe: `df` as a pyarrow.Table when it holds at
    most ROWS rows and BYTES Arrow bytes, else None (the batch stays on
    the cluster). Costs one LIMIT collect job, none when ROWS is 0."""
    if ROWS <= 0:
        return None
    tbl = df.limit(ROWS + 1).toArrow()
    if tbl.num_rows > ROWS or tbl.nbytes > BYTES:
        return None
    return tbl


def small_plan(df) -> bool:
    """Plan-only (no job) size test: whether `df`'s Catalyst
    optimized-plan estimate is under PLAN_BYTES. The estimate is file
    bytes for parquet scans, width-scaled through projections; without
    CBO it ignores filter selectivity and defaults LARGE for in-memory
    and post-join inputs. So it errs large — toward the scale-safe
    plan — as it does when the frame has no JVM plan to ask (no
    `_jdf`) or the JVM call fails. Callers: the full-table chain
    repair (operators/windows.chain_repair) and the dedup pair
    pipelines (operators/dedup)."""
    from py4j.protocol import Py4JError

    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (Py4JError, AttributeError):
        return False
    return size < PLAN_BYTES
