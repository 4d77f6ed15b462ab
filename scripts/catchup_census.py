"""Per-stage census of one catch-up flush: the ledger_ingest backfill.

Builds the benchmark's catch-up spool for one seed (perfbench/gen.py:
the same pulses, record counts and jets as `perfbench/run.py`, above
the 65,536-row driver gate), warms a fresh Spark session with one
small driver-path commit as the benchmark's set-up does, then flushes
the spool into a fresh store with `pipeline.flush_pending` and reports:

  - the flush's wall time;
  - every Spark job and stage it ran: offsets from the flush start,
    task count, task time, shuffle bytes, and the Python call site;
  - every driver-side Arrow collect (`DataFrame.toArrow`): the calling
    function and the rows it brought back. The counter wraps toArrow,
    so the jobs of those collects name this script as their call site.

The package is imported from `--checkout`, so the same script takes
the census of another revision's code (a `git archive` of it).

Usage:
  SPARK_GRAFT_CPUS=4 python scripts/catchup_census.py \
      [--checkout DIR] [--seed 1] [--out census.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the benchmark's catch-up sizing (perfbench/run.py SIZES["full"])
CATCHUP_RECORDS = 100_000
TIP_REC = (200, 4000)
FIRST_PULSE = 4_000_000


def catchup_rows(seed: int) -> tuple[list[dict], list[dict]]:
    """(catch-up rows, the first catch-up pulse's rows for the warm-up)."""
    sys.path.insert(0, os.path.join(HERE, "perfbench"))
    import gen

    lo, hi = TIP_REC
    n = 1
    while sum(gen.log_uniform_sizes(seed, n, lo, hi)) < 1.02 * CATCHUP_RECORDS:
        n += 1
    led = gen.make_ledger(seed, gen.log_uniform_sizes(seed, n, lo, hi), FIRST_PULSE)
    return [r for pn in led.pulses for r in led.raw[pn]], led.raw[led.pulses[0]]


def write_spool(ckpt: str, rows: list[dict]) -> None:
    import pyarrow.parquet as papq

    import gen

    spool = os.path.join(ckpt, "group_spool")
    os.makedirs(spool, exist_ok=True)
    papq.write_table(gen.rows_to_arrow(rows), os.path.join(spool, "part-0.parquet"))


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def spark_census(
    spark, after_job: int, t0_ms: int, roots: list[str]
) -> tuple[list, list]:
    """Jobs with id > after_job and their stages, from the status store
    (works with the UI off). Call sites are made relative to `roots`."""

    def site(name: str) -> str:
        for root in roots:
            name = name.replace(root.rstrip(os.sep) + os.sep, "")
        return name

    sc = spark.sparkContext
    jvm = sc._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = sc._jsc.sc().statusStore()
    jobs_j = conv.asJava(store.jobsList(jvm.java.util.ArrayList()))
    jobs, stage_job = [], {}
    for i in range(jobs_j.size()):
        j = jobs_j.get(i)
        if j.jobId() <= after_job:
            continue
        sids = list(conv.asJava(j.stageIds()))
        for s in sids:
            stage_job[s] = j.jobId()
        start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        jobs.append({
            "job": j.jobId(),
            "call_site": site(j.name()),
            "start_s": round((start - t0_ms) / 1000, 3) if start else None,
            "end_s": round((end - t0_ms) / 1000, 3) if end else None,
            "stages": sids,
            "tasks": j.numTasks(),
            "skipped_tasks": j.numSkippedTasks(),
        })
    stages_j = conv.asJava(
        store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
    )
    stages = []
    for i in range(stages_j.size()):
        s = stages_j.get(i)
        if s.stageId() not in stage_job or str(s.status()) != "COMPLETE":
            continue
        start, end = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
        stages.append({
            "stage": s.stageId(),
            "job": stage_job[s.stageId()],
            "call_site": site(s.name()),
            "start_s": round((start - t0_ms) / 1000, 3) if start else None,
            "end_s": round((end - t0_ms) / 1000, 3) if end else None,
            "tasks": s.numTasks(),
            "task_ms": s.executorRunTime(),
            "cpu_ms": round(s.executorCpuTime() / 1e6),
            "shuffle_read_kb": round(s.shuffleReadBytes() / 1024),
            "shuffle_write_kb": round(s.shuffleWriteBytes() / 1024),
        })
    jobs.sort(key=lambda j: j["job"])
    stages.sort(key=lambda s: (s["start_s"] is None, s["start_s"], s["stage"]))
    return jobs, stages


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--checkout", default=HERE)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    sys.path.insert(0, os.path.abspath(a.checkout))

    from block_explorer_spark import get_spark, schemas
    from block_explorer_spark.streaming import pipeline as P

    rows, warm_rows = catchup_rows(a.seed)
    work = tempfile.mkdtemp(prefix="catchup_census_")
    spark = get_spark(
        "catchup_census",
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # warm-up: one small driver-path commit into a throwaway store
        write_spool(os.path.join(work, "warm"), warm_rows)
        P.ingest_batch(
            spark, os.path.join(work, "warm_store"),
            spark.read.schema(schemas.RAW_RECORDS).parquet(
                os.path.join(work, "warm", "group_spool")
            ),
        )
        ckpt = os.path.join(work, "ckpt")
        write_spool(ckpt, rows)

        collects: list[dict] = []
        DataFrame = type(spark.range(1))  # the concrete class defines toArrow
        to_arrow = DataFrame.toArrow

        def counted(df):
            tbl = to_arrow(df)
            caller = sys._getframe(1)
            collects.append({
                "at_s": round(time.perf_counter() - t0, 3),
                "caller": f"{caller.f_globals.get('__name__')}."
                          f"{caller.f_code.co_name}",
                "rows": tbl.num_rows,
            })
            return tbl

        DataFrame.toArrow = counted
        store = spark.sparkContext._jsc.sc().statusStore()
        conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        jl = conv.asJava(store.jobsList(spark.sparkContext._jvm.java.util.ArrayList()))
        after = max((jl.get(i).jobId() for i in range(jl.size())), default=-1)
        t0_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        n = P.flush_pending(spark, os.path.join(work, "store"), ckpt)
        flush_s = time.perf_counter() - t0
        DataFrame.toArrow = to_arrow
        jobs, stages = spark_census(
            spark, after, t0_ms, [os.path.abspath(a.checkout), HERE]
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    widths: dict[int, int] = {}
    for s in stages:
        widths[s["tasks"]] = widths.get(s["tasks"], 0) + 1
    out = {
        "seed": a.seed,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "records": n,
        "flush_s": round(flush_s, 3),
        "summary": {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "task_s": round(sum(s["task_ms"] for s in stages) / 1000, 3),
            "max_tasks_per_stage": max((s["tasks"] for s in stages), default=0),
            "stages_by_task_count": dict(sorted(widths.items())),
            "arrow_collects": len(collects),
            "arrow_collect_rows_max": max((c["rows"] for c in collects), default=0),
        },
        "arrow_collects": collects,
        "jobs": jobs,
        "stages": stages,
    }
    text = json.dumps(out, indent=1)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    print(json.dumps(out["summary"] | {"flush_s": out["flush_s"]}))


if __name__ == "__main__":
    main()
