"""Relational/GBE-store scaling: does the API stay fast as the table
grows 100x?

The analytic curve (scripts/scale_curve.py) shows the curation
operators scale; this script shows the OTHER half of the 100 TB story:
the pulse-bucketed storage layout keeps POINT work (an API page, a
micro-batch merge) at constant cost while the table grows, because
every such operation touches one bucket directory out of N.

Measured per scale (x1 = 200 pulses ~100k records, x10 = 2k pulses ~
1M, x100 = 20k pulses / 10M):

  page_ms    keyset page of 50 records at one pulse (read_table with
             pulse bounds -> partition-pruned scan -> order+limit)
  upsert_s   MERGE of a fresh 512-record pulse batch (bucket-granular
             dynamic overwrite; reference: ON CONFLICT txn,
             etl/storage/storage.go:28-94)
  scan_s     full-table count grouped by type — the LINEAR contrast.
             Wall time barely moves (a column-pruned scan of even 10M
             rows is sub-second on 32 cores), so the honest contrast
             is INPUT BYTES: scan_input_mb grows ~100x while
             page_input_mb stays a few MB — the pruning, measured

Corpus: deterministic mapInPandas generation — per-row bytes derive
from (pulse, jet, seq), so any scale/partitioning writes identical
data; nothing data-sized touches the driver.

Usage: python scripts/scale_relational.py [--scales 1,10,100]
       [--out SCALE_RELATIONAL.json] [--root /root/repo/.scale_rel]

Control cells (--control): one control pass (streaming/pipeline.
run_control_pass) over pulses + jet_drops stores of 2k, 20k and 200k
pulses with 8 jet drops each, in two states: `tip` (every pulse but
the newest already swept, so the pass completes one pulse) and
`first` (nothing swept yet). Each cell runs in a fresh process, 5
passes each on a fresh copy of the store, and records the median
wall time, Spark jobs per pass and the driver's peak RSS (plus the
JVM's). `--parent-repo DIR` measures the same stores with another
checkout's package too (A/B); the result becomes the `control`
section of --out, leaving the other sections as they are:

  python scripts/scale_relational.py --control [--parent-repo DIR]
       [--control-pulses 2000,20000,200000] [--root DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# --repo DIR: import the package from another checkout (a control
# cell's A/B side); it must be on sys.path before the imports below
sys.path.insert(0, sys.argv[sys.argv.index("--repo") + 1] if "--repo" in sys.argv else REPO)

import pandas as pd


from block_explorer_spark import get_spark, schemas
from block_explorer_spark.metrics import StageMetrics
from block_explorer_spark.operators import filters as Fl
from block_explorer_spark.operators import pagination as Pg
from block_explorer_spark.sources import manifest as Mf
from block_explorer_spark.sources import parquet as P

P0 = 4_000_000
PULSE_STEP = 10
BASE_PULSES = 200
RECS_PER_PULSE = 512  # divisible by 8 jets -> exact per-jet chains
JETS = [format(i, "03b") for i in range(8)]


def _ref(pn: int, seq: int) -> bytes:
    return pn.to_bytes(8, "big") + seq.to_bytes(8, "big") + b"\x00" * 16


def gen_records(spark, n_pulses: int, start_idx: int = 0):
    """RECORDS-schema rows: per pulse, RECS_PER_PULSE records spread
    over 8 jets as activate->amend chains. References embed the pulse,
    so batches generated at different start_idx never collide on PK."""

    def make(batches):
        per_jet = RECS_PER_PULSE // len(JETS)
        for pdf in batches:
            rows = []
            for p_idx in pdf["id"]:
                pn = P0 + (int(p_idx) + start_idx) * PULSE_STEP
                seq = 0
                for j_idx, jet in enumerate(JETS):
                    obj = _ref(pn, 10_000 + j_idx)
                    prev = None
                    for i in range(per_jet):
                        ref = _ref(pn, seq)
                        rows.append(
                            {
                                "reference": ref,
                                "type": "state" if i else "request",
                                "object_reference": obj,
                                "prototype_reference": b"proto",
                                "payload": b"p" * 16,
                                "prev_record_reference": prev,
                                "hash": ref,
                                "raw_data": b"r" * 16,
                                "jet_id": jet,
                                "pulse_number": pn,
                                "order": i,
                                "timestamp": 1_600_000_000 + int(p_idx),
                            }
                        )
                        prev = ref
                        seq += 1
            yield pd.DataFrame(rows, columns=[f.name for f in schemas.RECORDS.fields])

    parts = max(8, n_pulses // 100)
    return spark.range(0, n_pulses, numPartitions=parts).mapInPandas(make, schemas.RECORDS)


def gen_raw(spark, n_pulses: int, start_idx: int = 0):
    """RAW_RECORDS rows (the ingest pipeline's input shape) — same
    deterministic layout as gen_records but pre-transform: kind +
    position instead of type + order."""

    def make(batches):
        per_jet = RECS_PER_PULSE // len(JETS)
        for pdf in batches:
            rows = []
            for p_idx in pdf["id"]:
                pn = P0 + (int(p_idx) + start_idx) * PULSE_STEP
                pos = 0
                for j_idx, jet in enumerate(JETS):
                    obj = _ref(pn, 10_000 + j_idx)
                    prev = None
                    for i in range(per_jet):
                        ref = _ref(pn, pos)
                        rows.append(
                            {
                                "reference": ref,
                                "kind": "activate" if i == 0 else "amend",
                                "object_reference": obj,
                                "prototype_reference": b"proto",
                                "payload": b"p" * 16,
                                "prev_record_reference": prev,
                                "hash": ref,
                                "raw_data": b"r" * 16,
                                "jet_id": jet,
                                "pulse_number": pn,
                                "timestamp": 1_600_000_000,
                                "position": pos,
                                "prev_pulse_number": pn - PULSE_STEP,
                                "next_pulse_number": pn + PULSE_STEP,
                            }
                        )
                        prev = ref
                        pos += 1
            yield pd.DataFrame(rows, columns=[f.name for f in schemas.RAW_RECORDS.fields])

    parts = max(8, n_pulses // 50)
    return spark.range(0, n_pulses, numPartitions=parts).mapInPandas(
        make, schemas.RAW_RECORDS
    )


def measure_backfill(spark, root: str, n_pulses: int = 1000) -> dict:
    """One BIG ingest_batch (the D3 backfill shape): n_pulses x
    RECS_PER_PULSE raw records through dedup + chain sort + fork
    validation + pulse/jet_drops derivation + three MERGEs."""
    import tempfile

    from block_explorer_spark.streaming import pipeline as pl

    warm = tempfile.mkdtemp(prefix="bes_bf_warm_", dir=root)
    pl.ingest_batch(spark, warm, gen_raw(spark, 2, start_idx=900_000))
    base = tempfile.mkdtemp(prefix="bes_bf_", dir=root)
    t0 = time.perf_counter()
    pl.ingest_batch(spark, base, gen_raw(spark, n_pulses))
    wall = time.perf_counter() - t0
    landed = P.read_table(spark, base, "records").count()
    n = n_pulses * RECS_PER_PULSE
    assert landed == n, (landed, n)
    shutil.rmtree(base)
    shutil.rmtree(warm)
    return {"records": n, "sec": round(wall, 1), "records_per_s": int(n / wall)}


def build(spark, scale: int, root: str) -> str:
    base = os.path.join(root, f"x{scale}")
    if os.path.exists(os.path.join(base, "_DONE")):
        return base
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    n_pulses = BASE_PULSES * scale
    gen_records(spark, n_pulses).transform(P.with_bucket).write.partitionBy(
        "pulse_bucket"
    ).mode("overwrite").parquet(P.table_path(base, "records"))
    open(os.path.join(base, "_DONE"), "w").close()
    return base


def measure(spark, base: str, scale: int, collector=None) -> dict:
    n_pulses = BASE_PULSES * scale
    mid_pn = P0 + (n_pulses // 2) * PULSE_STEP

    # -- page: keyset page at one pulse (the API's hot path) ----------
    def page():
        df = P.read_table(spark, base, "records", pulse_gte=mid_pn, pulse_lte=mid_pn)
        df = Fl.apply_filters(df, Fl.equality(jet_id=JETS[3]))
        return Pg.paginate(df, [("order", True)], limit=50).collect()

    # the fixture is written straight to the directory: adopt it into a
    # manifest first (once; a cached fixture adopts nothing) — stores
    # read only what a manifest lists. The manifest IS the file listing, so
    # the page read prunes relpaths python-side instead of listing 20k
    # bucket directories (the x100 page_ms cost in the r4 artifact).
    P.migrate(base)

    page()  # warm the scan plan once; then measure steady-state
    before = collector.totals() if collector else None
    t0 = time.perf_counter()
    n_iter = 5
    for _ in range(n_iter):
        rows = page()
    page_ms = (time.perf_counter() - t0) / n_iter * 1000
    page_input_mb = (
        round(collector.delta(before, collector.totals())["inputBytes"] / n_iter / 1e6, 2)
        if collector else None
    )
    assert len(rows) == 50, len(rows)

    # -- lifeline: the object-point read (the reference's hottest
    # index, records(object_reference, type, pulse, "order")). With
    # the object-index sidecar + obj_key zone maps the read opens the
    # object's OWN bucket files, so latency and input bytes stay FLAT
    # while the table grows 100x. ------------------------------------
    from block_explorer_spark.sources import manifest as Mf

    if Mf.read(base).get("meta", {}).get("layout", {}).get("objidx") != "full":
        P.build_object_index(spark, base)
    obj = _ref(mid_pn, 10_000 + 3)

    def lifeline():
        return P.read_records_for_object(spark, base, obj).collect()

    lrows = lifeline()  # warm plan
    assert len(lrows) == RECS_PER_PULSE // len(JETS), len(lrows)
    before = collector.totals() if collector else None
    t0 = time.perf_counter()
    for _ in range(n_iter):
        lifeline()
    lifeline_ms = (time.perf_counter() - t0) / n_iter * 1000
    lifeline_input_mb = (
        round(collector.delta(before, collector.totals())["inputBytes"] / n_iter / 1e6, 2)
        if collector else None
    )
    lifeline_files = len(
        set(P.read_records_for_object(spark, base, obj).inputFiles())
    )
    total_files = len(Mf.read(base)["families"]["records"])

    # -- point lookup: the PK B-tree read (get_record,
    # storage.go:382-407). References embed their pulse (the
    # reference's Record.ID.Pulse() layout), so the lookup prunes to
    # ONE bucket's covering files by pulse zone maps — the q123 gate's
    # path, measured here against 100x table growth. ------------------
    pref = _ref(mid_pn, 5)

    def point():
        return P.read_record_by_reference(
            spark, base, pref, pulse=mid_pn
        ).collect()

    prow = point()  # warm
    assert len(prow) == 1, len(prow)
    before = collector.totals() if collector else None
    t0 = time.perf_counter()
    for _ in range(n_iter):
        point()
    point_ms = (time.perf_counter() - t0) / n_iter * 1000
    point_input_mb = (
        round(collector.delta(before, collector.totals())["inputBytes"] / n_iter / 1e6, 2)
        if collector else None
    )
    point_files = len(
        set(P.read_record_by_reference(spark, base, pref, pulse=mid_pn).inputFiles())
    )

    # -- upsert: merge a fresh one-pulse batch ------------------------
    batch = gen_records(spark, 1, start_idx=n_pulses + 7)
    t0 = time.perf_counter()
    P.upsert(spark, base, "records", batch)
    upsert_s = time.perf_counter() - t0

    # -- scan: the linear contrast ------------------------------------
    before = collector.totals() if collector else None
    t0 = time.perf_counter()
    by_type = (
        P.read_table(spark, base, "records")
        .groupBy("type")
        .count()
        .collect()
    )
    scan_s = time.perf_counter() - t0
    scan_input_mb = (
        round(collector.delta(before, collector.totals())["inputBytes"] / 1e6, 2)
        if collector else None
    )
    total = sum(r["count"] for r in by_type)
    assert total == n_pulses * RECS_PER_PULSE + RECS_PER_PULSE, total

    return {
        "pulses": n_pulses,
        "records": total,
        "page_ms": round(page_ms, 1),
        "page_input_mb": page_input_mb,
        "lifeline_ms": round(lifeline_ms, 1),
        "lifeline_input_mb": lifeline_input_mb,
        "lifeline_files": lifeline_files,
        "point_ms": round(point_ms, 1),
        "point_input_mb": point_input_mb,
        "point_files": point_files,
        "records_files_total": total_files,
        "upsert_s": round(upsert_s, 2),
        "scan_s": round(scan_s, 2),
        "scan_input_mb": scan_input_mb,
    }


#: Jet drops per pulse in the control cells: the 8 depth-3 jets cover
#: the trie, so every pulse can complete.
CONTROL_JETS = JETS
CONTROL_RECS_PER_DROP = 64


def build_control_store(base: str, n_pulses: int, swept: bool) -> str:
    """A pulses + jet_drops store of n_pulses chained pulses with 8 jet
    drops each, committed through upsert_many's pyarrow path (no Spark
    job). swept: every pulse but the newest is already complete,
    sequential and counted (a tip pass's store); otherwise none is.
    Each drop carries a 32-byte random hash, as a platform-fed store
    does, so the 200k-pulse store's pulses + jet_drops bytes exceed
    placement.MERGE_BYTES."""
    import numpy as np
    import pyarrow as pa

    if os.path.exists(os.path.join(base, "_DONE")):
        return base
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    pns = P0 + PULSE_STEP * np.arange(n_pulses, dtype=np.int64)
    done = np.arange(n_pulses) < (n_pulses - 1 if swept else 0)
    k = len(CONTROL_JETS)
    cols = {
        "pulse_number": pns,
        "prev_pulse_number": pns - PULSE_STEP,
        "next_pulse_number": pns + PULSE_STEP,
        "is_complete": done,
        "is_sequential": done,
        "timestamp": pns,
        "jet_drop_amount": np.where(done, k, 0),
        "record_amount": np.where(done, k * CONTROL_RECS_PER_DROP, 0),
    }
    schema = P._arrow_schema("pulses")
    pulses = pa.Table.from_arrays(
        [pa.array(cols[f.name], f.type) for f in schema], schema=schema
    )
    n = n_pulses * k
    hashes = np.random.default_rng(n_pulses).bytes(32 * n)
    cols = {
        "pulse_number": pa.array(np.repeat(pns, k)),
        "jet_id": pa.array(CONTROL_JETS * n_pulses),
        "hash": pa.FixedSizeBinaryArray.from_buffers(
            pa.binary(32), n, [None, pa.py_buffer(hashes)]
        ).cast(pa.binary()),
        "timestamp": pa.array(np.repeat(pns, k)),
        "record_amount": pa.array(np.full(n, CONTROL_RECS_PER_DROP), pa.int32()),
    }
    schema = P._arrow_schema("jet_drops")
    drops = pa.Table.from_arrays(
        [cols.get(f.name, pa.nulls(n, f.type)) for f in schema], schema=schema
    )
    P.upsert_many(None, base, {"pulses": pulses, "jet_drops": drops})
    open(os.path.join(base, "_DONE"), "w").close()
    return base


def _proc_kb(pid: int, field: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def control_cell(store: str, reps: int = 5) -> dict:
    """`reps` control passes in this process, each on a fresh copy of
    `store`, with the package this process imported (see --repo)."""
    import statistics
    import tempfile

    from block_explorer_spark.streaming import pipeline as pl

    spark = get_spark("control-cell")
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    rss0 = _proc_kb(os.getpid(), "VmRSS")
    walls, jobs, outs = [], [], []
    for i in range(reps):
        with tempfile.TemporaryDirectory(dir=os.path.dirname(store)) as d:
            base = shutil.copytree(store, os.path.join(d, "s"))
            sc.setLocalProperty("spark.jobGroup.id", f"control-{i}")
            t0 = time.perf_counter()
            out = pl.run_control_pass(spark, base)
            walls.append(time.perf_counter() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"control-{i}")))
            outs.append({k: len(v) for k, v in out.items()})
    # VmHWM, not ru_maxrss: a child inherits its parent's ru_maxrss
    # across fork + exec, and the parent built the store
    peak = _proc_kb(os.getpid(), "VmHWM")
    jvm_peak = _proc_kb(jvm_pid, "VmHWM")
    return {
        "wall_s_median": round(statistics.median(walls), 3),
        "walls_s": [round(w, 3) for w in walls],
        "spark_jobs_per_pass": jobs,
        "driver_peak_rss_mb": round(peak / 1024, 1) if peak else None,
        "driver_rss_before_mb": round(rss0 / 1024, 1) if rss0 else None,
        "jvm_peak_rss_mb": round(jvm_peak / 1024, 1) if jvm_peak else None,
        "changed": outs[0],
    }


def measure_control(root: str, sizes: list[int], parent_repo: str | None) -> dict:
    """Every control cell, each side in its own fresh process; the side
    that runs first alternates from cell to cell."""
    import subprocess

    from block_explorer_spark import placement

    sides = [("change", REPO)] + ([("parent", parent_repo)] if parent_repo else [])
    cells = {}
    for n in sizes:
        for state in ("tip", "first"):
            store = build_control_store(
                os.path.join(root, f"control_{state}_{n}"), n, swept=state == "tip"
            )
            snap = Mf.read(store)
            nbytes = P._rels_bytes(
                store, snap["families"]["pulses"] + snap["families"]["jet_drops"]
            )
            cell = {
                "pulses": n,
                "jet_drops": n * len(CONTROL_JETS),
                "store_mb": round(nbytes / 2**20, 1),
                "over_merge_bytes": nbytes > placement.MERGE_BYTES,
            }
            for name, repo in sides if len(cells) % 2 == 0 else sides[::-1]:
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--control-cell",
                     store, "--repo", repo],
                    capture_output=True, text=True, check=True,
                )
                cell[name] = json.loads(r.stdout.strip().splitlines()[-1])
            cells[f"{state}_{n}"] = cell
            print(f"# control {state}_{n}: {cell}", file=sys.stderr)
    return cells


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10,100")
    ap.add_argument("--out", default="SCALE_RELATIONAL.json")
    ap.add_argument("--root", default="/root/repo/.scale_rel")
    ap.add_argument("--control", action="store_true",
                    help="measure the control-pass cells only")
    ap.add_argument("--control-pulses", default="2000,20000,200000")
    ap.add_argument("--parent-repo", default=None,
                    help="another checkout to measure the control cells with")
    ap.add_argument("--control-cell", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--repo", default=None,
                    help="checkout to import the package from")
    args = ap.parse_args()

    if args.control_cell:
        print(json.dumps(control_cell(args.control_cell)))
        return
    if args.control:
        os.makedirs(args.root, exist_ok=True)
        cells = measure_control(
            args.root, [int(n) for n in args.control_pulses.split(",")],
            args.parent_repo,
        )
        payload = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                payload = json.load(f)
        payload["control"] = {
            "what": "one run_control_pass per cell, median of 5 passes, "
                    "each on a fresh copy of the store, fresh process per "
                    "side and cell",
            "jets_per_pulse": len(CONTROL_JETS),
            "cells": cells,
        }
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(json.dumps({"metric": "control_scale", "out": args.out}))
        return

    spark = get_spark("scale-relational", **{"spark.ui.enabled": "true"})
    try:
        collector = StageMetrics(spark)
    except Exception:
        collector = None
    os.makedirs(args.root, exist_ok=True)
    results = {"backfill_512k": measure_backfill(spark, args.root)}
    print(f"# backfill: {results['backfill_512k']}", file=sys.stderr)
    for scale in (int(s) for s in args.scales.split(",")):
        base = build(spark, scale, args.root)
        results[f"x{scale}"] = measure(spark, base, scale, collector)
        print(f"# x{scale}: {results[f'x{scale}']}", file=sys.stderr)
        with open(args.out + ".partial", "w") as f:
            json.dump(results, f, indent=1)

    payload = {"metric": "relational_scale", "base": {"pulses": BASE_PULSES,
               "recs_per_pulse": RECS_PER_PULSE}, "scales": results}
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"metric": "relational_scale", "out": args.out}))


if __name__ == "__main__":
    main()
