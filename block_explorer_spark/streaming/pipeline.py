"""Streaming ingest + control plane + exporter tail.

Maps the reference's channel pipeline (gRPC source → transformer →
200-worker processor → Postgres; §1.3) onto Structured Streaming:

  raw-records file source (stand-in for the gRPC exporter stream)
    → foreachBatch: D2 decode + J6 chain sort + S4/S5 MERGE
    → control pass: D4 completeness, D5 sequential, counters

foreachBatch is the right sink shape because each micro-batch needs
the multi-table idempotent MERGE protocol (sources/parquet.py), which
no built-in sink provides. Backpressure = maxFilesPerTrigger
(reference: bounded channels of 500, gRPC batches of 100 —
configuration/configuration.go:63-73); exactly-once = MERGE keys +
checkpointed source offsets, mirroring the reference's PK-upsert
idempotency (test/integration/db_integration_test.go:106-211).

The same `ingest_batch` drives the non-streaming micro-batch loop
(backfills / reload ranges, D6) — one code path for both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from block_explorer_spark import schemas
from block_explorer_spark.plans import controller as C
from block_explorer_spark.plans import transformer as Tr
from block_explorer_spark.sources import manifest as Mf
from block_explorer_spark.sources import parquet as pq


def ingest_batch(spark: SparkSession, base: str, raw: DataFrame) -> None:
    """One micro-batch: transform + persist (idempotent, replay-safe).

    Raw records dedup EXACT duplicates: an at-least-once source can
    deliver the same record twice within one batch (the reference's
    importer stream does — db_integration_test.go:106-211, C5498), and
    a byte-identical duplicate entering the chain sort would read as a
    fork and wrongly fail the whole drop. Upsert's PK merge only covers
    cross-batch replays; in-batch dedup has to happen pre-sort. Dedup
    is over ALL columns, not just the reference: two rows sharing a
    reference but differing in payload are a genuine in-batch fork and
    must reach fork validation, not be collapsed to an arbitrary winner
    (the reference's C5498 replay is byte-identical only). r11: the
    dedup rides the chain sort's own (pulse, jet) grouping shuffle
    (dedupe=True) instead of paying a standalone full-batch exchange —
    exact duplicates share every column, so they always share a group.
    """
    # r12 driver fast path (guide §1.2/§6): a KB-scale micro-batch's
    # commit is fixed-cost bound — every Spark job it runs (transform
    # materialization, per-table collects, probes) is task-launch and
    # planning overhead over data the driver could hold outright. One
    # bounded probe collect (LIMIT cap+1, byte backstop) decides the
    # path: at or under the gate the WHOLE batch — decode, chain sort,
    # per-pulse facts, jet-drop derivation, staging — runs driver-side
    # through the same code the cluster path uses (the chain sort is
    # literally the same function object; decode equivalence is
    # test-pinned), and the commit costs ONE Spark job total. Above
    # the gate (backfills, compactions) the cluster body runs.
    probe = _probe_arrow(raw)
    if probe is not None:
        _ingest_batch_driver(spark, base, probe)
    else:
        _ingest_batch_cluster(spark, base, raw)


def _ingest_batch_cluster(spark: SparkSession, base: str, raw: DataFrame) -> None:
    """ingest_batch's cluster body, for batches above the driver gate.
    Callers that already know the batch is over the gate (flush_pending
    counts its spool from the parquet footers) call it directly and
    skip the probe."""
    raw = raw.cache()
    records = None
    try:
        records = Tr.transform_pulse_data(raw, dedupe=True).cache()
        # Materialize the transform once, then run the pulse + record
        # MERGEs as concurrent Spark jobs (the scheduler interleaves
        # them; the reference loads through a 200-worker pool,
        # configuration/configuration.go:126). Safe because each write
        # targets a different table and each MERGE is idempotent —
        # partial failure self-heals on replay exactly as in the
        # sequential order.
        # ONE job materializes both caches AND yields per-pulse row
        # counts for raw and transformed records (each union branch
        # must scan every cached row, so this populates both caches
        # exactly as count() would, without extra jobs). The counts feed
        # upsert_many's batch_stats: the per-table bucket lists + row
        # counts it would otherwise spend one planning job PER TABLE
        # rediscovering (r11 ingest profile: 3 of the ~12 fixed jobs
        # per micro-batch), and the pulse bounds that let the merge
        # zone-prune its collision checks to zero file reads in the
        # steady all-new-pulses state.
        #   raw pulses ⊇ records pulses (chain validation drops whole
        # jet drops): the PULSES batch derives from raw, so its hint
        # uses the raw-side set; records/jet_drops derive from the
        # transformed records, so theirs use the records-side set.
        #   The two sides aggregate through ONE union (not a join):
        # a join of two aggregates runs ~8 AQE stage-jobs on a
        # micro-batch (measured: ~0.8 s of a 2.0 s commit); the union
        # form is a single aggregation query. The same aggregate also
        # carries the raw side's pulse metadata (max timestamp + real
        # prev/next chain links), so the 1-row-per-pulse PULSES batch
        # is built driver-side from the collected rows instead of
        # running a second aggregation query over raw at staging time.
        # The records side adds its distinct jets per pulse, which make
        # the jet_drops row count exact.
        nul = F.lit(None).cast("long")
        per_pulse = (
            raw.select(
                "pulse_number", F.lit(0).alias("__is_rec"), "timestamp",
                "prev_pulse_number", "next_pulse_number",
                F.lit(None).cast("string").alias("__rec_jet"),
            )
            .unionByName(
                records.select(
                    "pulse_number", F.lit(1).alias("__is_rec"),
                    nul.alias("timestamp"),
                    nul.alias("prev_pulse_number"),
                    nul.alias("next_pulse_number"),
                    F.col("jet_id").alias("__rec_jet"),
                )
            )
            .groupBy("pulse_number")
            .agg(
                F.count(F.lit(1)).alias("n_all"),
                F.sum("__is_rec").alias("n_rec"),
                F.max("timestamp").alias("ts"),
                F.max("prev_pulse_number").alias("prev"),
                F.max("next_pulse_number").alias("next"),
                F.size(F.collect_set("__rec_jet")).alias("n_jets"),
            )
            .collect()
        )
        raw_rows = [r for r in per_pulse if r["n_all"] > r["n_rec"]]
        pulses_tbl = _pulses_table(
            (r["pulse_number"], r["ts"], r["prev"], r["next"]) for r in raw_rows
        )
        raw_pulses = [r["pulse_number"] for r in raw_rows]
        touched = [r["pulse_number"] for r in per_pulse if r["n_rec"]]
        n_records = sum(r["n_rec"] for r in per_pulse)
        pulses = spark.createDataFrame(pulses_tbl, schemas.PULSES)
        drops = Tr.jet_drops_from_records(records, pulses)
        # Counter-correctness probe BEFORE the merges: if any touched
        # (pulse, jet) drop already exists — a pulse whose records
        # arrive split across micro-batches — batch-local counts would
        # overwrite the true totals (upsert is replace-on-key). The
        # reference increments counters inside its load txn
        # (storage.go:56-60); the idempotent analog recomputes counts
        # from the post-merge fact table. The probe reads only the
        # PRE-EXISTING jet_drops table, so it does not depend on this
        # batch's merges — and in steady state (all-new pulses, probe
        # empty) the jet_drops merge keeps its batch-local counts and
        # runs CONCURRENTLY with the other two, as before.
        prior = _prior_jet_drops(spark, base, touched)
        # Round 6: ONE manifest commit for the whole load — pulses,
        # records and (steady state) jet_drops publish atomically,
        # matching the reference's single load txn (storage.go:28-82).
        # upsert_many stages the per-table writes in parallel threads
        # internally, so this keeps the previous concurrency. The
        # pulses batch is already on the driver, so it stages through
        # upsert_many's pyarrow path with no Spark job.
        batches = {"pulses": pulses_tbl, "records": records}
        stats = {
            "pulses": pq.BatchStats(raw_pulses, len(raw_pulses)),
            "records": pq.BatchStats(touched, n_records),
        }
        if not prior:
            batches["jet_drops"] = drops
            stats["jet_drops"] = pq.BatchStats(
                touched, sum(r["n_jets"] for r in per_pulse)
            )
        pq.upsert_many(spark, base, batches, batch_stats=stats)
        if prior:
            # Split-pulse path only: recompute counts from the merged
            # fact table (bucket-pruned to the touched pulses), then
            # merge jet_drops after the records merge has landed.
            post = pq.read_table(
                spark, base, "records",
                pulse_gte=min(touched), pulse_lte=max(touched),
            ).filter(F.col("pulse_number").isin(touched))
            drops = Tr.jet_drops_from_records(post, pulses)
            pq.upsert(spark, base, "jet_drops", drops)
    finally:
        raw.unpersist()
        if records is not None:
            records.unpersist()


def _pulses_table(facts):
    """The pulses batch as a pyarrow.Table, from per-pulse
    (pulse_number, max timestamp, prev link, next link) facts; both
    placements build it here.

    The gRPC source delivers pulse metadata alongside records — a
    FullPulse with REAL prev/next chain links
    (etl/extractor/platform_pulse.go:43-57) — and those links are what
    the reference stores (SavePulse). The raw schema carries them as
    nullable columns; when a stand-in source omits them, fall back to
    the nominal step-10 cadence. Irregular cadences (skipped consensus
    rounds) therefore ingest with correct links instead of mislabeled
    nominal ones; chain repair (W2/J2) still covers neighbors that
    never arrive. New pulses start incomplete/non-sequential with zero
    counters; the control plane flips the flags (the reference does
    the same on SavePulse)."""
    import pyarrow as pa

    step = 10
    return pa.Table.from_pylist(
        [
            {
                "pulse_number": pn,
                "prev_pulse_number": prev if prev is not None else pn - step,
                "next_pulse_number": nxt if nxt is not None else pn + step,
                "is_complete": False,
                "is_sequential": False,
                "timestamp": ts,
                "jet_drop_amount": 0,
                "record_amount": 0,
            }
            for pn, ts, prev, nxt in facts
        ],
        schema=pq._arrow_schema("pulses"),
    )


def _probe_arrow(raw: DataFrame):
    """The bounded driver-path probe: collect at most gate+1 rows
    (LIMIT bounds what the driver ever holds); None when the batch is
    over the row/byte gate — or the gate is disabled — and the
    cluster path must run."""
    if pq.DRIVER_STAGE_ROWS <= 0:
        return None
    tbl = raw.limit(pq.DRIVER_STAGE_ROWS + 1).toArrow()
    if (
        tbl.num_rows > pq.DRIVER_STAGE_ROWS
        or tbl.nbytes > 8 * pq.DRIVER_STAGE_BYTES
    ):
        return None
    return tbl


def _prior_jet_drops(spark: SparkSession, base: str, touched: list[int]) -> int:
    """1 if any touched pulse already has jet_drops rows (a pulse whose
    records arrive split across micro-batches), else 0 — the counter-
    correctness probe ingest_batch runs BEFORE its merges. r12 (guide
    §6 data skipping): zone-prune with the manifest's per-file
    pulse_number stats first — the steady all-new-pulses state proves
    no overlap from the manifest alone (ZERO file reads, ZERO Spark
    jobs); surviving candidates under DRIVER_MERGE_BYTES are probed
    driver-side through pyarrow (stats-less files are conservatively
    kept by prune_by_stats, so they get read, never skipped); only a
    big overlap pays the Spark read the old path always paid, and so
    does a legacy store the manifest does not cover yet."""
    if not touched or not os.path.exists(pq.table_path(base, "jet_drops")):
        return 0
    lo, hi = min(touched), max(touched)
    try:
        snap = Mf.read(base)
        # version 0 is a legacy directory store not yet adopted: its
        # empty manifest proves nothing, so the directory read decides
        if snap["version"]:
            rels = snap["families"].get("jet_drops", [])
            cand = Mf.prune_by_stats(
                snap, "jet_drops", "pulse_number", lo=lo, hi=hi, rels=rels
            )
            if not cand:
                return 0
            if pq._rels_bytes(base, cand) <= pq.DRIVER_MERGE_BYTES:
                import pyarrow.parquet as papq

                tset = set(touched)
                for rel in cand:
                    col = papq.read_table(
                        os.path.join(base, rel), columns=["pulse_number"]
                    ).column("pulse_number")
                    if any(p in tset for p in col.to_pylist()):
                        return 1
                return 0
    except (OSError, ValueError):
        pass  # unreadable manifest or data file: ask Spark
    try:
        return (
            pq.read_table(
                spark, base, "jet_drops", pulse_gte=lo, pulse_lte=hi
            )
            .filter(F.col("pulse_number").isin(touched))
            .limit(1)
            .count()
        )
    except Exception:
        return 0  # unreadable/empty dir: first batch ever


def _ingest_batch_driver(spark: SparkSession, base: str, raw_tbl) -> None:
    """ingest_batch's driver fast path over one collected Arrow batch:
    the same decode → dedupe → chain-sort → per-pulse facts →
    jet-drop derivation → atomic 3-table upsert, with every step that
    the cluster path runs as a Spark job executed driver-side instead.
    The chain sort runs the IDENTICAL function object the cluster
    applyInPandas wraps (chain_sort.make_sort_group); decode
    equivalence is pinned by test_driver_ingest. Planning facts
    (pulse sets, row counts) come from the collected rows, so the
    BatchStats are exact by construction, and staging goes through
    upsert_many's pyarrow path — ONE Spark job (the caller's probe
    collect) per micro-batch commit in the steady state."""
    raw_pdf = raw_tbl.to_pandas()
    records_pdf = Tr.transform_pulse_data_pdf(raw_pdf, dedupe=True)

    # per-pulse raw facts through Arrow group_by (int64-exact — no
    # pandas nullable-int→float promotion on the chain-link columns)
    gb = raw_tbl.group_by("pulse_number").aggregate(
        [
            ("timestamp", "max"),
            ("prev_pulse_number", "max"),
            ("next_pulse_number", "max"),
        ]
    )
    pulses_tbl = _pulses_table(
        zip(
            gb.column("pulse_number").to_pylist(),
            gb.column("timestamp_max").to_pylist(),
            gb.column("prev_pulse_number_max").to_pylist(),
            gb.column("next_pulse_number_max").to_pylist(),
        )
    )
    raw_pulses = pulses_tbl.column("pulse_number").to_pylist()

    n_records = len(records_pdf)
    touched = (
        sorted(int(p) for p in records_pdf["pulse_number"].unique())
        if n_records
        else []
    )
    records_tbl = pq._pdf_to_arrow(records_pdf, "records")

    prior = _prior_jet_drops(spark, base, touched)

    batches: dict = {"pulses": pulses_tbl, "records": records_tbl}
    stats = {
        "pulses": pq.BatchStats(raw_pulses, len(raw_pulses)),
        "records": pq.BatchStats(touched, n_records),
    }
    if not prior and n_records:
        # driver twin of jet_drops_from_records: one row per
        # (pulse, jet) with the batch pulse's timestamp
        ts_by_pulse = dict(
            zip(raw_pulses, pulses_tbl.column("timestamp").to_pylist())
        )
        counts = (
            records_pdf.groupby(["pulse_number", "jet_id"], sort=False)
            .size()
            .reset_index(name="record_amount")
        )
        for c in ("first_prev_hash", "second_prev_hash", "hash", "raw_data"):
            counts[c] = None
        counts["timestamp"] = [
            ts_by_pulse.get(int(p)) for p in counts["pulse_number"]
        ]
        batches["jet_drops"] = pq._pdf_to_arrow(counts, "jet_drops")
        stats["jet_drops"] = pq.BatchStats(touched, len(counts))
    pq.upsert_many(spark, base, batches, batch_stats=stats)
    if prior:
        # Split-pulse path only (rare): recompute counts from the
        # merged fact table, exactly like the cluster path.
        post = pq.read_table(
            spark, base, "records",
            pulse_gte=min(touched), pulse_lte=max(touched),
        ).filter(F.col("pulse_number").isin(touched))
        pulses_df = spark.createDataFrame(pulses_tbl, schemas.PULSES)
        drops = Tr.jet_drops_from_records(post, pulses_df)
        pq.upsert(spark, base, "jet_drops", drops)


def run_control_pass(spark: SparkSession, base: str) -> dict:
    """D4 + D5 + counter refresh as one idempotent batch sweep.

    Returns what changed: {"completed": [...], "sequential": [...],
    "gaps": [...]} — gaps feed the reload loop (D6).

    r11: the three pulse-table updates (complete flags, sequential
    flags, counters) fuse into ONE upsert commit. The decisions are
    unchanged — the sequential advancer sees the complete flips
    through an in-memory overlay of the same rows the old
    flip-commit-reread produced — and the final table state is
    byte-identical, but the pass pays one manifest commit + staging
    cycle instead of three (and readers never see a partially swept
    intermediate state, which is strictly safer)."""
    from block_explorer_spark.operators.aggregates import pulse_counters

    fast = _control_pass_driver(spark, base)
    if fast is not None:
        return fast
    pulses = pq.read_table(spark, base, "pulses")
    drops = pq.read_table(spark, base, "jet_drops")
    completed = C.newly_complete_pulses(pulses, drops)
    if completed:
        pulses = pulses.withColumn(
            "is_complete",
            F.when(
                F.col("pulse_number").isin(completed), F.lit(True)
            ).otherwise(F.col("is_complete")),
        )
    sequential = C.advance_sequential(pulses)
    if sequential:
        pulses = pulses.withColumn(
            "is_sequential",
            F.when(
                F.col("pulse_number").isin(sequential), F.lit(True)
            ).otherwise(F.col("is_sequential")),
        )
    # counter refresh over the same frame (refresh_pulse_counters'
    # derivation, fused into the single commit)
    counters = pulse_counters(drops)
    updated = (
        pulses.drop("jet_drop_amount", "record_amount")
        .join(counters, "pulse_number", "left_outer")
        .fillna(0, subset=["jet_drop_amount", "record_amount"])
        .select(*[f.name for f in schemas.PULSES.fields])
    )
    pq.upsert(spark, base, "pulses", updated)
    gaps = C.find_gaps(pq.read_table(spark, base, "pulses"))
    return {"completed": completed, "sequential": sequential, "gaps": gaps}


def _control_pass_driver(spark: SparkSession, base: str) -> dict | None:
    """run_control_pass's driver fast path: when BOTH control tables'
    committed bytes fit under DRIVER_MERGE_BYTES, read them through
    pyarrow and run the sweep driver-side — the completeness check is
    the same pure `trie_covered`, the D5 advance the same
    `_sequential_walk`, the gap scan `_gaps_walk` (pinned equivalent
    to the window formulation), and the fused pulse upsert goes
    through upsert_many's pyarrow path. Zero Spark jobs for the
    KB-scale steady state the streaming loop lives in; None (→ the
    unchanged Spark path) for big stores, legacy layouts, or any
    manifest/file surprise."""
    from block_explorer_spark.functions.jets import trie_covered

    try:
        snap = Mf.read(base)
        if snap["version"] == 0:
            return None  # legacy or empty-under-protocol: Spark decides
        prels = snap["families"].get("pulses", [])
        drels = snap["families"].get("jet_drops", [])
        if pq._rels_bytes(base, prels + drels) > pq.DRIVER_MERGE_BYTES:
            return None

        def rd(name, rels):
            if not rels:
                return None
            return pq._read_rels_arrow(base, name, rels).to_pandas()

        pulses = rd("pulses", prels)
        drops = rd("jet_drops", drels)
    except Exception:
        return None  # unreadable manifest/files: the Spark path decides
    if pulses is None or pulses.empty:
        return {"completed": [], "sequential": [], "gaps": []}

    jets_by_pulse: dict[int, set] = {}
    if drops is not None:
        for pn, jid in zip(drops["pulse_number"], drops["jet_id"]):
            jets_by_pulse.setdefault(int(pn), set()).add(jid)
    completed = sorted(
        int(pn)
        for pn, done in zip(pulses["pulse_number"], pulses["is_complete"])
        if not done
        and int(pn) in jets_by_pulse
        and trie_covered(list(jets_by_pulse[int(pn)]))
    )
    is_complete = pulses["is_complete"] | pulses["pulse_number"].isin(completed)

    seq_mask = pulses["is_sequential"]
    frontier = (
        int(pulses.loc[seq_mask, "pulse_number"].max()) if seq_mask.any() else None
    )
    cand = pulses[is_complete & ~seq_mask]
    if frontier is not None:
        cand = cand[cand["pulse_number"] > frontier]
    cand = cand.sort_values("pulse_number")
    sequential = C._sequential_walk(
        frontier,
        [
            (int(pn), None if prev != prev or prev is None else int(prev))
            for pn, prev in zip(
                cand["pulse_number"], cand["prev_pulse_number"]
            )
        ],
    )

    # counter refresh (pulse_counters' derivation) + the fused commit
    out = pulses.copy()
    out["is_complete"] = is_complete
    out["is_sequential"] = seq_mask | out["pulse_number"].isin(sequential)
    jd_amt: dict[int, int] = {}
    rec_amt: dict[int, int] = {}
    if drops is not None:
        for pn, ra in zip(drops["pulse_number"], drops["record_amount"]):
            pn = int(pn)
            jd_amt[pn] = jd_amt.get(pn, 0) + 1
            if ra == ra and ra is not None:  # null-safe sum, like F.sum
                rec_amt[pn] = rec_amt.get(pn, 0) + int(ra)
    out["jet_drop_amount"] = [jd_amt.get(int(p), 0) for p in out["pulse_number"]]
    out["record_amount"] = [rec_amt.get(int(p), 0) for p in out["pulse_number"]]
    upd = pq._pdf_to_arrow(out, "pulses")
    pns = sorted(int(p) for p in out["pulse_number"])
    pq.upsert_many(
        spark, base, {"pulses": upd},
        batch_stats={"pulses": pq.BatchStats(pns, len(pns))},
    )
    gaps = C._gaps_walk(pns)
    return {"completed": completed, "sequential": sequential, "gaps": gaps}


def _spool_dir(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "group_spool")


def _spool_rows(spool: str) -> int:
    """Exact row count of the spool's data files from their parquet
    footers: no data page read, no Spark job. Hidden and underscore
    files (_SUCCESS, .crc) are skipped, as Spark's file listing skips
    them; 0 means the spool holds no data files."""
    import pyarrow.parquet as papq

    n = 0
    for root, dirs, files in os.walk(spool):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if not fn.startswith(("_", ".")):
                n += papq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return n


def flush_pending(spark: SparkSession, base: str, checkpoint_dir: str) -> int:
    """Ingest whatever the group-commit spool holds (one MERGE + ONE
    manifest swap for the whole group) and clear it. Returns raw rows
    flushed. Idempotent and crash-safe at every point: a crash before
    the clear leaves the spool intact and the next flush re-runs the
    idempotent MERGE; a crash mid-ingest self-heals the same way.

    Placement is decided once, from the exact row count the spool's
    parquet footers give for free: over the driver gate the cluster
    body runs straight away (a catch-up after a gap pays no probe);
    at or under it the bounded Arrow probe collects the batch for the
    driver path, still subject to its byte backstop. The spool is
    cleared only after a successful ingest, or when it holds no data
    files at all; any read or ingest error propagates and leaves every
    spooled row in place for the next flush."""
    import shutil

    spool = _spool_dir(checkpoint_dir)
    if not os.path.isdir(spool):
        return 0
    n = _spool_rows(spool)
    if n:
        raw = spark.read.schema(schemas.RAW_RECORDS).parquet(spool)
        probe = _probe_arrow(raw) if n <= pq.DRIVER_STAGE_ROWS else None
        if probe is not None:
            _ingest_batch_driver(spark, base, probe)
        else:
            _ingest_batch_cluster(spark, base, raw)
        run_control_pass(spark, base)
    shutil.rmtree(spool, ignore_errors=True)
    return n


def start_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    base: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    control_every_n_batches: int = 1,
    group_commit: int = 1,
) -> StreamingQuery:
    """readStream over a raw-records parquet directory → foreachBatch.

    Source offsets are checkpointed; a replayed micro-batch re-MERGEs
    the same keys (no duplicates). The control pass runs inline every
    N batches — cheap because it reads only incomplete pulses.

    `group_commit=K` (round 7): amortize the manifest CAS cost (~0.3 s
    per commit, flat in batch size) across K micro-batches. Each batch
    appends its raw rows to a spool beside the checkpoint (one plain
    parquet append — no CAS); every K-th batch the spool is ingested
    as ONE MERGE + ONE manifest swap. Durability story, window by
    window:
      - crash after spool append, before the offset commit → Spark
        replays the batch, the spool holds its rows twice, and
        ingest_batch's exact-duplicate dropDuplicates collapses them;
      - crash after the offset commit, before the group flush → the
        rows are no longer Spark's to replay but the spool still
        holds them; the next start_ingest_stream (or an explicit
        flush_pending) ingests them — nothing is lost;
      - crash mid-flush → spool intact (cleared only after the
        idempotent MERGE commits), replay converges.
    The trade is VISIBILITY latency (up to K micro-batches), never
    durability — the reference makes the same trade batching records
    into its load txn (etl/processor/processor.go worker pool).
    """
    raw_stream = (
        spark.readStream.schema(schemas.RAW_RECORDS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    if group_commit > 1:
        # self-heal: a previous run's unflushed group lands first
        flush_pending(spark, base, checkpoint_dir)
    pending = {"n": 0}

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if group_commit > 1:
            batch.write.mode("append").parquet(_spool_dir(checkpoint_dir))
            pending["n"] += 1
            if pending["n"] >= group_commit:
                flush_pending(spark, base, checkpoint_dir)
                pending["n"] = 0
            return
        ingest_batch(spark, base, batch)
        if control_every_n_batches and batch_id % control_every_n_batches == 0:
            run_control_pass(spark, base)

    return (
        raw_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def exporter_next_pulses(
    spark: SparkSession,
    base: str,
    from_pulse: int,
    prototypes: list[bytes],
    limit: int = 100,
) -> DataFrame:
    """D7/S7: the exporter tail as a batch poll.

    Sequential pulses after `from_pulse` whose records match the
    prototype IN-list, with matched record counts — the long-poll loop
    (etl/exporter/pulse_exporter_server.go:20-51) calls this per tick;
    a streaming deployment wraps it in readStream on the pulses table.
    """
    # pulse_gte prunes bucket directories, not just row groups — the
    # records side is the 100 TB table, so the tail poll must never
    # list buckets at or before the cursor.
    pulses = pq.read_table(spark, base, "pulses", pulse_gte=from_pulse + 1).filter(
        F.col("is_sequential")
    )
    records = pq.read_table(spark, base, "records", pulse_gte=from_pulse + 1)
    if prototypes:
        records = records.filter(F.col("prototype_reference").isin(*prototypes))
    matched = (
        F.broadcast(pulses.select("pulse_number", "prev_pulse_number"))
        .join(records, "pulse_number")
        .groupBy("pulse_number", "prev_pulse_number")
        .agg(F.count(F.lit(1)).alias("record_amount"))
    )
    return matched.orderBy("pulse_number").limit(limit)
