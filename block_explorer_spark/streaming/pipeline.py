"""Streaming ingest + control plane + exporter tail.

Maps the reference's channel pipeline (gRPC source → transformer →
200-worker processor → Postgres; §1.3) onto Structured Streaming:

  raw-records file source (stand-in for the gRPC exporter stream)
    → foreachBatch: D2 decode + J6 chain sort + S4/S5 MERGE
    → control pass: D4 completeness, D5 sequential, D6 gaps, counters

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

from block_explorer_spark import placement, schemas
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
    is over ALL decoded columns, not just the reference: two rows
    sharing a reference but differing in payload are a genuine
    in-batch fork and must reach fork validation, not be collapsed to
    an arbitrary winner (the reference's C5498 replay is byte-identical
    only). The dedup rides the chain sort's own (pulse, jet) grouping
    (dedupe=True) — exact duplicates share every column, so they
    always share a group.

    Placement (see block_explorer_spark.placement): a batch the bounded
    probe can collect runs on the driver, anything bigger on the
    cluster. Both run the same group step, reduce the batch to the same
    facts and commit through the same `_commit`.
    """
    tbl = placement.collect_bounded(raw)
    if tbl is not None:
        _ingest_batch_driver(spark, base, tbl)
    else:
        _ingest_batch_cluster(spark, base, raw)


#: The per-pulse raw facts: the latest timestamp and the real chain
#: links (max ignores the nulls a stand-in source leaves).
_PULSE_FACTS = ("timestamp", "prev_pulse_number", "next_pulse_number")
#: The pulses columns the control plane owns; a replay keeps them.
_PULSE_STATE = ["is_complete", "is_sequential", "jet_drop_amount", "record_amount"]


def _ingest_batch_driver(spark: SparkSession, base: str, raw_tbl) -> None:
    """ingest_batch on the driver, over one collected Arrow batch: the
    group step over a pandas groupby, the facts through Arrow
    group_by (int64-exact: no nullable-int→float promotion on the
    chain links), then `_commit`. One Spark job per commit in the
    steady state: the caller's probe collect."""
    records = pq._pdf_to_arrow(
        Tr.transform_pulse_data_pdf(raw_tbl.to_pandas(), dedupe=True), "records"
    )
    pulse_facts = raw_tbl.group_by("pulse_number").aggregate(
        [(c, "max") for c in _PULSE_FACTS]
    )
    drop_counts = records.group_by(["pulse_number", "jet_id"]).aggregate(
        [([], "count_all")]
    )
    _commit(spark, base, pulse_facts, drop_counts, records)


def _ingest_batch_cluster(spark: SparkSession, base: str, raw: DataFrame) -> None:
    """ingest_batch on the cluster, for batches over the driver gate.
    Callers that already know the batch is over the gate (flush_pending
    counts its spool from the parquet footers) call it directly and
    skip the probe.

    ONE aggregation job materializes both caches and yields the facts:
    raw rows (jet_id null) give the per-pulse facts, transformed
    records give the per-(pulse, jet) counts. The two sides run
    through one union, not a join: a join of two aggregates runs ~8
    AQE stage-jobs on a micro-batch, the union is a single query. The
    facts carry Arrow group_by's column names, as on the driver."""
    import pyarrow.compute as pc

    raw = raw.cache()
    records = None
    try:
        records = Tr.transform_pulse_data(raw, dedupe=True).cache()
        nul = F.lit(None).cast("long")
        facts = (
            raw.select(
                "pulse_number", F.lit(None).cast("string").alias("jet_id"),
                *_PULSE_FACTS,
            )
            .unionByName(
                records.select(
                    "pulse_number", "jet_id", *[nul.alias(c) for c in _PULSE_FACTS]
                )
            )
            .groupBy("pulse_number", "jet_id")
            .agg(
                *[F.max(c).alias(f"{c}_max") for c in _PULSE_FACTS],
                F.count(F.lit(1)).alias("count_all"),
            )
            .toArrow()
        )
        is_pulse = pc.is_null(facts.column("jet_id"))
        _commit(
            spark, base, facts.filter(is_pulse),
            facts.filter(pc.invert(is_pulse)), records,
        )
    finally:
        raw.unpersist()
        if records is not None:
            records.unpersist()


def _commit(spark: SparkSession, base: str, pulse_facts, drop_counts, records) -> None:
    """The load transaction both placements end in (the reference's
    storage.go:28-82): pulses, records and jet drops in ONE manifest
    commit, with exact BatchStats from the facts.

    pulse_facts: per raw pulse, `<fact>_max` of _PULSE_FACTS.
    drop_counts: per (pulse, jet) of the transformed records,
    `count_all`. records: the transformed batch (a pyarrow.Table or
    the cached DataFrame).

    A pulse that already exists keeps its flags and counters: a replay
    updates only timestamp and links, like the reference's SavePulse
    (ON CONFLICT DO UPDATE SET prev, next, timestamp). A touched
    (pulse, jet) drop that already exists — a pulse whose records
    arrive split across micro-batches — would have its count
    overwritten by the batch-local one (upsert is replace-on-key), so
    its jet drops are recounted from the merged records table after
    the commit instead. Both lookups are zone-pruned: in the steady
    all-new-pulses state they read no file."""
    raw_pulses = pulse_facts.column("pulse_number").to_pylist()
    touched = sorted(set(drop_counts.column("pulse_number").to_pylist()))
    prior = _existing_rows(spark, base, "pulses", raw_pulses, _PULSE_STATE)
    pulses = _pulses_table(pulse_facts, prior)
    ts_by_pulse = dict(zip(raw_pulses, pulses.column("timestamp").to_pylist()))
    split = _existing_rows(spark, base, "jet_drops", touched, []).num_rows > 0

    batches = {"pulses": pulses, "records": records}
    stats = {
        "pulses": pq.BatchStats(raw_pulses, len(raw_pulses)),
        "records": pq.BatchStats(
            touched, sum(drop_counts.column("count_all").to_pylist())
        ),
    }
    if not split:
        batches["jet_drops"] = _jet_drops_table(drop_counts, ts_by_pulse)
        stats["jet_drops"] = pq.BatchStats(touched, drop_counts.num_rows)
    pq.upsert_many(spark, base, batches, batch_stats=stats)
    if split:
        merged = (
            pq.read_table(
                spark, base, "records",
                pulse_gte=min(touched), pulse_lte=max(touched),
            )
            .filter(F.col("pulse_number").isin(touched))
            .groupBy("pulse_number", "jet_id")
            .agg(F.count(F.lit(1)).alias("count_all"))
            .toArrow()
        )
        pq.upsert(spark, base, "jet_drops", _jet_drops_table(merged, ts_by_pulse))


def _pulses_table(pulse_facts, prior):
    """The pulses batch as a pyarrow.Table, from the per-pulse facts
    and the `prior` rows of pulses already in the table.

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
    the same on SavePulse). Pulses in `prior` keep its state columns."""
    import pyarrow as pa

    step = 10
    kept = {r["pulse_number"]: r for r in prior.to_pylist()}
    new = dict(zip(_PULSE_STATE, (False, False, 0, 0)))
    f = pulse_facts.to_pydict()
    rows = []
    for pn, ts, prev, nxt in zip(
        f["pulse_number"], f["timestamp_max"],
        f["prev_pulse_number_max"], f["next_pulse_number_max"],
    ):
        state = kept.get(pn, new)
        rows.append({
            "pulse_number": pn,
            "prev_pulse_number": prev if prev is not None else pn - step,
            "next_pulse_number": nxt if nxt is not None else pn + step,
            "timestamp": ts,
            **{c: state[c] for c in _PULSE_STATE},
        })
    return pa.Table.from_pylist(rows, schema=pq._arrow_schema("pulses"))


def _jet_drops_table(drop_counts, ts_by_pulse: dict):
    """The jet_drops batch as a pyarrow.Table: one row per (pulse, jet)
    `count_all`, stamped with its pulse's timestamp (A3 counts + the
    pulse metadata copy the reference makes in the processor,
    etl/processor/processor.go:131-167). The hash columns stay null:
    a records-only source has no platform drop to copy them from."""
    import pyarrow as pa

    schema = pq._arrow_schema("jet_drops")
    pns = drop_counts.column("pulse_number").to_pylist()
    cols = {
        "pulse_number": pa.array(pns, pa.int64()),
        "jet_id": drop_counts.column("jet_id"),
        "timestamp": pa.array([ts_by_pulse.get(p) for p in pns], pa.int64()),
        "record_amount": drop_counts.column("count_all").cast(pa.int32()),
    }
    return pa.Table.from_arrays(
        [cols.get(f.name, pa.nulls(len(pns), f.type)) for f in schema],
        schema=schema,
    )


def _existing_rows(
    spark: SparkSession, base: str, name: str, pulses: list[int], cols: list[str]
):
    """The rows of table `name` whose pulse_number is in `pulses`, as a
    pyarrow.Table of pulse_number + `cols`. The manifest's per-file
    pulse_number zone maps prune first, so pulses the table has never
    seen cost no file read and no Spark job; the manifest is the
    table's only file listing, so a store at version 0 holds no rows.
    Surviving files under placement.MERGE_BYTES are read through
    pyarrow (stats-less files are kept by prune_by_stats, so they get
    read, never skipped); a bigger overlap or an unreadable manifest or
    file is read through Spark."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = ["pulse_number"] + cols
    schema = pa.schema([pq._arrow_schema(name).field(c) for c in cols])
    if not pulses:
        return schema.empty_table()
    lo, hi = min(pulses), max(pulses)
    try:
        cand = Mf.prune_by_stats(Mf.read(base), name, "pulse_number", lo=lo, hi=hi)
        if not cand:
            return schema.empty_table()
        if placement.admits() and pq._rels_bytes(base, cand) <= placement.MERGE_BYTES:
            tbl = pq._read_rels_arrow(base, name, cand, cols).select(cols)
            want = pa.array(pulses, pa.int64())
            return tbl.filter(pc.is_in(tbl.column("pulse_number"), want))
    except (OSError, ValueError):  # pyarrow's ArrowInvalid is a ValueError
        pass  # unreadable manifest or data file: Spark reads it
    return (
        pq.read_table(spark, base, name, pulse_gte=lo, pulse_lte=hi)
        .filter(F.col("pulse_number").isin(pulses))
        .select(*cols)
        .toArrow()
        .cast(schema)
    )


#: The jet_drops columns the control pass reads.
_DROP_COLS = ["pulse_number", "jet_id", "record_amount"]


def run_control_pass(spark: SparkSession, base: str) -> dict:
    """D4 + D5 + D6 + the counter refresh as one idempotent sweep.

    Returns what changed: {"completed": [...], "sequential": [...],
    "gaps": [...]} — gaps feed the reload loop (D6).

    The reference runs this loop over its in-memory jet-drop register
    (etl/controller/controller.go:100-132, pulsemaintainer.go:86-227);
    here the register is the tables, read on the driver through
    pyarrow one pulse_bucket at a time, with both file lists taken
    from one manifest snapshot. A jet drop lives in its pulse's
    bucket, so completeness (`trie_covered`) and the counters are
    per-bucket facts. The D5 frontier comes first: the
    (pulse_number, is_sequential) columns of the newest bucket, then
    the next older one, down to the first bucket holding a sequential
    pulse. The ascending sweep then carries only the D5 walk's last
    accepted pulse and the gap scan's last key from one bucket to the
    next, so driver memory is one bucket plus the rows the pass
    changes, whatever the table size.

    Only the pulse rows whose flags or counters changed go into the
    pass's one upsert_many (its pyarrow path: no Spark job), and a pass
    that changes nothing commits nothing. An unreadable listed file
    propagates. A store at version 0 is empty (the manifest is its
    only file listing) and, like every relational read, raises until
    `parquet.migrate` when it holds unlisted files."""
    import pyarrow as pa

    from block_explorer_spark.functions.jets import trie_covered

    snap = Mf.read(base)
    pq._require_migrated(base, snap["version"])
    prels = _rels_by_bucket(snap, "pulses")
    drels = _rels_by_bucket(snap, "jet_drops")
    frontier = _sequential_frontier(base, prels)
    completed, sequential, gaps, changed = [], [], [], []
    walk, walking, last = frontier, True, None
    for b in sorted(prels):
        old = pq._read_rels_arrow(base, "pulses", prels[b]).sort_by("pulse_number")
        pns = old.column("pulse_number").to_pylist()
        was = {c: old.column(c).to_pylist() for c in _PULSE_STATE}
        pending = [pn for pn, d in zip(pns, was["is_complete"]) if not d]
        jets, n_drops, n_recs = _drop_facts(base, drels.get(b, []), pending)
        done = list(was["is_complete"])
        for i, pn in enumerate(pns):
            if not done[i] and pn in jets and trie_covered(jets[pn]):
                done[i] = True
                completed.append(pn)
        seq = list(was["is_sequential"])
        cand = [
            (pn, prev)
            for pn, prev, d, s in zip(
                pns, old.column("prev_pulse_number").to_pylist(), done, seq
            )
            if d and not s and (frontier is None or pn > frontier)
        ]
        if walking and cand:
            got = C._sequential_walk(walk, cand)
            walking = len(got) == len(cand)
            walk = got[-1] if got else walk
            sequential += got
            flip = set(got)
            seq = [s or pn in flip for s, pn in zip(seq, pns)]
        now = {
            "is_complete": done,
            "is_sequential": seq,
            "jet_drop_amount": [n_drops.get(pn, 0) for pn in pns],
            "record_amount": [n_recs.get(pn, 0) for pn in pns],
        }
        idx = [
            i for i in range(len(pns))
            if any(now[c][i] != was[c][i] for c in _PULSE_STATE)
        ]
        if idx:
            t = old.take(idx)
            for c in _PULSE_STATE:
                t = t.set_column(
                    t.schema.get_field_index(c), t.schema.field(c),
                    pa.array([now[c][i] for i in idx], t.schema.field(c).type),
                )
            changed.append(t)
        gaps += C._gaps_walk(([] if last is None else [last]) + pns)
        last = pns[-1] if pns else last
    if changed:
        batch = pa.concat_tables(changed).drop_columns(["pulse_bucket"])
        pns = batch.column("pulse_number").to_pylist()
        pq.upsert_many(
            spark, base, {"pulses": batch},
            batch_stats={"pulses": pq.BatchStats(pns, len(pns))},
        )
    return {"completed": completed, "sequential": sequential, "gaps": gaps}


def _drop_facts(base: str, rels: list[str], pending: list[int]):
    """One bucket's jet_drops files, per pulse: the jet sets of the
    `pending` (not yet complete) pulses, and every pulse's jet-drop
    count and record_amount sum (nulls count 0)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not rels:
        return {}, {}, {}
    d = pq._read_rels_arrow(base, "jet_drops", rels, _DROP_COLS)
    g = d.group_by("pulse_number").aggregate([([], "count_all"), ("record_amount", "sum")])
    pns = g.column("pulse_number").to_pylist()
    jets: dict[int, set] = {}
    if pending:
        d = d.filter(pc.is_in(d.column("pulse_number"), pa.array(pending, pa.int64())))
        for pn, jet in zip(d.column("pulse_number").to_pylist(), d.column("jet_id").to_pylist()):
            jets.setdefault(pn, set()).add(jet)
    return (
        {pn: list(js) for pn, js in jets.items()},
        dict(zip(pns, g.column("count_all").to_pylist())),
        dict(zip(pns, (n or 0 for n in g.column("record_amount_sum").to_pylist()))),
    )


def _rels_by_bucket(snap: dict, name: str) -> dict[int, list[str]]:
    """Table `name`'s files in `snap`, grouped by their pulse_bucket
    directory (every relational writer stages under one)."""
    out: dict[int, list[str]] = {}
    for r in snap["families"].get(name, []):
        b = pq._rel_bucket(r)
        if b is None:
            raise ValueError(f"{name} file {r} is not under a pulse_bucket directory")
        out.setdefault(b, []).append(r)
    return out


def _sequential_frontier(base: str, prels: dict[int, list[str]]) -> int | None:
    """The highest sequential pulse (None: no pulse is sequential yet),
    read newest bucket first and stopping at the first bucket that
    holds one: in the steady state, one bucket's two columns."""
    import pyarrow.compute as pc

    for b in sorted(prels, reverse=True):
        t = pq._read_rels_arrow(
            base, "pulses", prels[b], ["pulse_number", "is_sequential"]
        )
        top = pc.max(t.filter(t.column("is_sequential")).column("pulse_number"))
        if top.is_valid:
            return top.as_py()
    return None


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
        tbl = placement.collect_bounded(raw) if placement.admits(n) else None
        if tbl is not None:
            _ingest_batch_driver(spark, base, tbl)
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
    N batches — a driver sweep that runs no Spark job.

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
