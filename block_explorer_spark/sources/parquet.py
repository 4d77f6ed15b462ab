"""Partitioned-parquet storage layout + TRANSACTIONAL upsert protocol.

The reference gets idempotency AND atomicity from PostgreSQL PK
upserts inside one transaction (S4/S5: etl/storage/storage.go:28-94).
Plain parquet has no MERGE, so the engine uses a partition-bucketed
merge protocol committed through the manifest CAS log
(sources/manifest.py — the same Delta/Iceberg-style commit the
document/vector stores adopted in round 5, extended to the relational
tables in round 6):

  * every table is partitioned by `pulse_bucket` = pulse_number // N
    (N=1000 pulses ≈ 2.7h of chain ≈ one healthy parquet partition at
    production record rates; tune per deployment);
  * an upsert of rows touching buckets B stages NEW immutable files
    holding merge(old bucket rows not in batch, batch rows), keyed on
    the table's PK — `INSERT ... ON CONFLICT DO UPDATE` semantics with
    bucket granularity — then publishes them with ONE compare-and-swap
    manifest commit that atomically swaps the touched buckets' file
    lists. A reader mid-upsert keeps its snapshot (old files are
    immutable until `manifest.vacuum`); two racing writers to the SAME
    bucket serialize through the CAS — the loser discards its staged
    files, re-reads the winner's snapshot, and re-merges, so no
    writer's rows are ever lost (pinned by
    test_write_path::test_concurrent_upserts_same_bucket_lose_nothing);
  * `save_jet_drop_data` commits jet_drops + records (and the ingest
    pipeline commits pulses + jet_drops + records) in ONE manifest
    swap — the multi-table atomicity of the reference's single load
    txn, which round 5's per-store logs could not express;
  * counters/flags are never mutated in place — the control pass
    recomputes them into the pulses table, and every merge is
    idempotent (same keys → same rows), so replay after any crash
    converges.

At cluster scale each bucket rewrite is one task-parallel job over
the incoming batch's buckets; unrelated partitions are untouched, and
the manifest IS the file listing — a read never LISTs the object
store. There is one layout: a store at manifest version 0 is empty.
Files written before the log existed (or straight to the directory,
e.g. the scripts/scale_relational.py fixtures) are not part of the
store: every read and write refuses such a warehouse
(`manifest.require_migrated`) until `migrate(base)` adopts them once.
"""

from __future__ import annotations

import os
import re
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from block_explorer_spark import placement, schemas
from block_explorer_spark.sources import manifest as Mf

PULSE_BUCKET_SIZE = 1000

#: PK (upsert identity) per table — reference: migrations/migrations.go:11-89.
TABLE_KEYS = {
    "pulses": ["pulse_number"],
    "jet_drops": ["pulse_number", "jet_id"],
    "records": ["reference"],
}

TABLE_SCHEMAS = {
    "pulses": schemas.PULSES,
    "jet_drops": schemas.JET_DROPS,
    "records": schemas.RECORDS,
}

_BUCKET_RE = re.compile(r"pulse_bucket=(-?\d+)")

#: Physical layout column for the records table: a portable 60-bit
#: hash of object_reference. The reference's workhorse index is
#: records(object_reference, type, pulse_number, "order")
#: (migrations/migrations.go:54-80) — every lifeline query walks it.
#: Parquet has no B-tree, so the equivalent at 100 TB is file-level
#: skipping: records files are laid out (pulse_bucket, obj_key)-
#: clustered so each file's [min, max] obj_key zone is a narrow slice,
#: and a lifeline read opens ~1 file per bucket instead of every
#: micro-batch file the bucket accumulated. The hash is md5-based so
#: the DRIVER can compute the probe key in pure Python (no Spark job)
#: before pruning the manifest; it exists only in the parquet files
#: and the zone maps — the pinned read schema never surfaces it.
OBJ_KEY = "obj_key"


def obj_key_expr(col: str = "object_reference"):
    """The layout hash as a Column: top 15 hex chars of md5(ref) as a
    long — identical to obj_key_py on the same bytes."""
    return F.conv(F.substring(F.md5(F.col(col)), 1, 15), 16, 10).cast("long")


def obj_key_py(ref: bytes) -> int:
    """Driver-side twin of obj_key_expr (pure Python, no Spark)."""
    import hashlib

    return int(hashlib.md5(ref).hexdigest()[:15], 16)


#: The records table's OBJECT INDEX sidecar family: distinct
#: (obj_key, pulse_bucket) pairs, obj_key-sorted with zone maps — the
#: parquet equivalent of the reference's composite B-tree
#: records(object_reference, ...) at BUCKET granularity. A lifeline
#: probe opens the 1–2 sidecar files whose obj_key zone covers the
#: hash, collects the object's (bounded) bucket list, and reads only
#: those buckets' obj_key-sliced files — cost ∝ the object's actual
#: lifetime, FLAT as the table grows. The sidecar commits in the SAME
#: CAS swap as the records files (never desynced) and is an
#: OVER-approximation by design: a delete can leave a stale pair,
#: which costs one empty-file open, never a wrong row — the
#: object_reference equality filter is always re-applied.
OBJIDX = "records_objidx"


def _layout(name: str, df: DataFrame, buckets_hint: int = 1) -> DataFrame:
    """Physical layout applied at EVERY staging point for a table.
    records: append the obj_key column, range-partition on
    (pulse_bucket, obj_key) and sort within files — so each staged
    file covers a narrow obj_key slice of its bucket and the parquet
    footers (→ manifest zone maps) stay tight. Other tables stage
    unchanged.

    One bucket means one file: the frame is coalesced into a single
    partition instead, as the sidecar delta is — range partitioning
    into ONE partition still pays a bounds-sampling job and an extra
    exchange for the identical file and sort order. Coalescing is
    narrow, so it also collapses the upstream stage into one task;
    a caller whose upstream is a wide scan or join (the merge-rewrite)
    hands in a `repartition(1)` frame to keep that stage parallel."""
    if name != "records":
        return df
    df = df.withColumn(OBJ_KEY, obj_key_expr())
    if buckets_hint <= 1:
        df = df.coalesce(1)
    else:
        df = df.repartitionByRange(buckets_hint, "pulse_bucket", OBJ_KEY)
    return df.sortWithinPartitions(
        "pulse_bucket", OBJ_KEY, "pulse_number", F.col("order")
    )


def with_bucket(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "pulse_bucket", (F.col("pulse_number") / PULSE_BUCKET_SIZE).cast("long")
    )


def table_path(base: str, name: str) -> str:
    return os.path.join(base, name)


def _full_schema(name: str):
    from pyspark.sql import types as T

    return T.StructType(
        list(TABLE_SCHEMAS[name].fields)
        + [T.StructField("pulse_bucket", T.LongType())]
    )


def _rel_bucket(rel: str) -> int | None:
    m = _BUCKET_RE.search(rel)
    return int(m.group(1)) if m else None


def _bucket_rels(rels: list[str], buckets) -> list[str]:
    """Python-side partition pruning over manifest relpaths — the
    manifest is the file listing, so pruning costs no filesystem
    round trips (corpus_store._bucket_files' relational twin)."""
    want = set(buckets)
    return [r for r in rels if _rel_bucket(r) in want]


def _read_rels(
    spark: SparkSession,
    base: str,
    name: str,
    rels: list[str],
    ignore_corrupt: bool = False,
) -> DataFrame:
    """File-list read of manifested table files, schema-pinned, with
    the pulse_bucket partition column derived from the paths."""
    if not rels:
        return spark.createDataFrame([], _full_schema(name))
    reader = spark.read.schema(_full_schema(name)).option(
        "basePath", table_path(base, name)
    )
    if ignore_corrupt:
        reader = reader.option("ignoreCorruptFiles", "true")
    return reader.parquet(*sorted(os.path.join(base, r) for r in rels))


def migrate(base: str) -> int:
    """One-shot adoption of a warehouse written before the manifest
    log (or populated by direct .parquet() writes, e.g. the scale
    fixtures): commits every unlisted parquet file under the table
    directories into the next manifest version. Idempotent; returns
    files adopted. A migrated warehouse's lifeline reads use
    conservative pruning until build_object_index runs once."""
    return Mf.adopt(base, {name: name for name in TABLE_SCHEMAS})


def _require_migrated(base: str, version: int | None = None) -> None:
    Mf.require_migrated(base, list(TABLE_SCHEMAS), "parquet.migrate", version)


def _pulse_rels(
    base: str, name: str, pulse_gte, pulse_lte, snapshot: dict | None
) -> tuple[dict, list[str]]:
    """The snapshot (the latest one unless pinned) and the table's
    relpaths in it that can hold pulses in [pulse_gte, pulse_lte]:
    buckets pruned Python-side over the relpaths, then, inside a
    surviving bucket, files whose footer [min, max] for pulse_number
    cannot hold the range (zone maps: the steady-state fast path
    leaves one file per micro-batch per bucket, and a point read
    should open ONE of them, not the day's 8k — pinned by
    test_write_path::test_zone_maps_prune_files_within_bucket)."""
    m = snapshot if snapshot is not None else Mf.read(base)
    _require_migrated(base, m["version"])
    rels = m["families"].get(name, [])
    if pulse_gte is None and pulse_lte is None:
        return m, rels
    lo_b = pulse_gte // PULSE_BUCKET_SIZE if pulse_gte is not None else None
    hi_b = pulse_lte // PULSE_BUCKET_SIZE if pulse_lte is not None else None
    rels = [
        r
        for r in rels
        if (b := _rel_bucket(r)) is None
        or ((lo_b is None or b >= lo_b) and (hi_b is None or b <= hi_b))
    ]
    return m, Mf.prune_by_stats(
        m, name, "pulse_number", lo=pulse_gte, hi=pulse_lte, rels=rels
    )


def read_table(
    spark: SparkSession,
    base: str,
    name: str,
    pulse_gte: int | None = None,
    pulse_lte: int | None = None,
    ignore_corrupt: bool = False,
    snapshot: dict | None = None,
) -> DataFrame:
    """Schema-pinned read; drops the physical bucket column.

    Reads the snapshot's file list (pass `snapshot` to pin one across
    several reads — reader isolation under concurrent
    upserts/deletes); a store at version 0 is empty, and one holding
    unlisted files raises until `migrate` (see _pulse_rels). Pulse
    bounds prune buckets and zone maps Python-side over the manifest
    relpaths AND apply as partition filters (`PartitionFilters`,
    pinned by test_plan_quality::test_pulse_bounds_prune_partitions),
    so a pulse range touches one bucket's bytes, not the table's.

    The read passes the pinned schema EXPLICITLY rather than letting
    Spark sample footers: under schema evolution (a newer engine adds
    a column to TABLE_SCHEMAS) buckets written before the upgrade
    simply null-fill the new column per file — deterministic — and
    the inference listing is skipped entirely (at 100 TB, footer
    sampling is an extra S3 round per read). Pinned by
    test_write_path::test_schema_evolution_old_buckets_null_fill.

    ignore_corrupt=True opts this read into skipping undecodable files
    (the operational sweep mode after partial hardware loss); the
    default surfaces corruption loudly.
    """
    _m, rels = _pulse_rels(base, name, pulse_gte, pulse_lte, snapshot)
    if not rels:
        # an empty table: schemas are pinned, so serve the typed empty
        # relation (the reference gets this from CREATE TABLE migrations)
        return spark.createDataFrame([], TABLE_SCHEMAS[name])
    df = _read_rels(spark, base, name, rels, ignore_corrupt)
    if pulse_gte is not None:
        df = df.filter(
            (F.col("pulse_bucket") >= pulse_gte // PULSE_BUCKET_SIZE)
            & (F.col("pulse_number") >= pulse_gte)
        )
    if pulse_lte is not None:
        df = df.filter(
            (F.col("pulse_bucket") <= pulse_lte // PULSE_BUCKET_SIZE)
            & (F.col("pulse_number") <= pulse_lte)
        )
    return df.select(*[f.name for f in TABLE_SCHEMAS[name].fields])


def read_record_by_reference(
    spark: SparkSession,
    base: str,
    reference: bytes,
    pulse: int | None = None,
    snapshot: dict | None = None,
) -> DataFrame:
    """Point lookup by record reference — the reference system's PK
    B-tree read (records.reference, migrations/migrations.go:54-80).

    In the reference's data model a record ID EMBEDS its pulse number
    (insolar.ID = [pulse | hash]; test/heavymock uses
    `Record.ID.Pulse()` throughout), so a deployment whose references
    follow that layout passes `pulse=` (or derives it with
    `int.from_bytes(ref[:4], "big")`) and the lookup prunes to ONE
    bucket's files by pulse zone maps — constant cost at any table
    size, like the B-tree. Without `pulse` the reference bytes are
    treated as opaque (the engine's schema makes no layout promise —
    test fixtures use random bytes) and the lookup is an honest
    column-pruned scan with the equality filter pushed to every
    footer. Never guesses: a wrong parsed pulse would wrongly prove
    absence, so the derivation is opt-in by the caller who knows the
    deployment's layout."""
    df = read_table(
        spark, base, "records",
        pulse_gte=pulse, pulse_lte=pulse, snapshot=snapshot,
    )
    return df.filter(F.col("reference") == reference)


def build_object_index(spark: SparkSession, base: str) -> int:
    """Full (re)build of the records object-index sidecar — the one
    scan that makes a MIGRATED warehouse lifeline-indexed (a fresh
    store's first upsert marks the incrementally-built sidecar
    trustworthy by itself). Scans the records family's
    (object_reference, pulse_bucket) pairs once, commits the sorted
    sidecar + the meta flag in one CAS swap. Returns the number of
    index pairs."""
    _require_migrated(base)

    def attempt(snap, stage):
        rels = snap["families"].get("records", [])
        if not rels:
            return None, None
        pairs = (
            _read_rels(spark, base, "records", rels)
            .select(obj_key_expr().alias(OBJ_KEY), "pulse_bucket")
            .distinct()
            .repartitionByRange(4, OBJ_KEY)
            .sortWithinPartitions(OBJ_KEY)
        )
        irels = stage.df(pairs, OBJIDX)
        families = dict(snap["families"])
        families[OBJIDX] = irels
        layout = dict(snap.get("meta", {}).get("layout", {}))
        layout["objidx"] = "full"
        layout.pop("objidx_pending", None)  # full scan covers all
        return irels, {
            "families": families,
            "meta": {"kind": "build_objidx", "data_change": False,
                     "layout": layout},
            "stats": Mf.file_stats(base, irels, [OBJ_KEY]),
        }

    irels = Mf.transact(base, attempt)
    if irels is None:
        return 0
    return spark.read.parquet(*[os.path.join(base, r) for r in irels]).count()


def maintain_object_index(
    spark: SparkSession, base: str, min_files: int = 8
) -> int | None:
    """Fold the sidecar's per-commit delta files into one sorted run —
    the OPTIMIZE cadence for the object index (every upsert appends a
    small delta file; a day of micro-batches is thousands). The
    sidecar is tiny relative to the table (distinct (obj, bucket)
    pairs), so the merge reads it whole, de-duplicates, and drops
    pairs whose bucket no longer has any live records file (retiring
    delete staleness at bucket granularity). No-op below `min_files`.
    Returns the new file count, or None if skipped."""
    cur = Mf.read(base)
    if len(cur["families"].get(OBJIDX, [])) < min_files and not _objidx_pending(cur):
        return None

    def attempt(snap, stage):
        rels = snap["families"].get(OBJIDX, [])
        live = set(snap["families"].get("records", []))
        pending = [r for r in _objidx_pending(snap) if r in live]
        if len(rels) < min_files and not pending:
            return None, None
        live_buckets = sorted(
            {b for r in live if (b := _rel_bucket(r)) is not None}
        )
        pairs = spark.read.parquet(*[os.path.join(base, r) for r in rels])
        if pending:
            # fold the deferred commits' pairs (skip-or-batch): cost ∝
            # the bounded pending set, not the table
            deferred = (
                _read_rels(spark, base, "records", pending)
                .select(obj_key_expr().alias(OBJ_KEY), "pulse_bucket")
            )
            pairs = pairs.unionByName(deferred)
        pairs = pairs.distinct()
        if live_buckets:
            pairs = pairs.filter(F.col("pulse_bucket").isin(live_buckets))
        else:
            pairs = pairs.limit(0)
        merged = pairs.repartitionByRange(4, OBJ_KEY).sortWithinPartitions(OBJ_KEY)
        irels = stage.df(merged, OBJIDX)
        families = dict(snap["families"])
        families[OBJIDX] = irels
        layout = dict(snap.get("meta", {}).get("layout", {}))
        layout.pop("objidx_pending", None)
        return len(irels), {
            "families": families,
            "meta": {"kind": "maintain_objidx", "data_change": False,
                     "layout": layout},
            "stats": Mf.file_stats(base, irels, [OBJ_KEY]),
        }

    return Mf.transact(base, attempt)


def _object_buckets(base: str, m: dict, k: int) -> list[int] | None:
    """The buckets an object's records can live in, via the sidecar
    (read with pyarrow: its obj_key-pruned files are KB-scale). None =
    sidecar absent or not marked complete (fall back to pulse-only
    pruning); [] = object provably absent."""
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    if m.get("meta", {}).get("layout", {}).get("objidx") != "full":
        return None
    rels = m["families"].get(OBJIDX, [])
    if not rels:
        return None
    buckets: set[int] = set()
    for rel in Mf.prune_by_stats(m, OBJIDX, OBJ_KEY, lo=k, hi=k, rels=rels):
        with papq.ParquetFile(os.path.join(base, rel)) as f:
            t = f.read(columns=[OBJ_KEY, "pulse_bucket"])
        hit = t.filter(pc.equal(t.column(OBJ_KEY), k))
        buckets.update(hit.column("pulse_bucket").to_pylist())
    return sorted(buckets)


def _object_rels(
    base: str,
    m: dict,
    object_reference: bytes,
    pulse_gte: int | None = None,
    pulse_lte: int | None = None,
) -> list[str]:
    """The records relpaths of snapshot `m` that can hold the object's
    rows in [pulse_gte, pulse_lte]: pulse pruning (_pulse_rels), then
    the object-index sidecar's bucket list, then the files whose
    obj_key zone can hold md5(object_reference)."""
    _m, rels = _pulse_rels(base, "records", pulse_gte, pulse_lte, m)
    k = obj_key_py(object_reference)
    obj_buckets = _object_buckets(base, m, k)
    if obj_buckets is not None:
        # files whose sidecar delta was deferred (skip-or-batch) are
        # ALWAYS probe candidates — their pairs aren't in the sidecar
        # yet; the OBJ_KEY zone pruning below still cuts the ones that
        # can't hold k, so the extra opens stay ≤ the bounded pending
        # set (OBJIDX_PENDING_MAX)
        pending = set(_objidx_pending(m))
        want = set(obj_buckets)
        rels = [
            r
            for r in rels
            if (_rel_bucket(r) is None or _rel_bucket(r) in want or r in pending)
        ]
    return Mf.prune_by_stats(m, "records", OBJ_KEY, lo=k, hi=k, rels=rels)


def read_records_for_object(
    spark: SparkSession,
    base: str,
    object_reference: bytes,
    pulse_gte: int | None = None,
    pulse_lte: int | None = None,
    snapshot: dict | None = None,
) -> DataFrame:
    """The lifeline read path: records for ONE object, pruned to the
    files whose obj_key zone can hold md5(object_reference) — the
    parquet answer to the reference's composite B-tree index
    records(object_reference, type, pulse_number, "order")
    (migrations/migrations.go:54-80), which every lifeline query
    walks. Without this, a no-pulse-bound lifeline scans every
    micro-batch file in every bucket; with the (pulse_bucket,
    obj_key)-clustered layout it opens ~1 file per bucket (pinned by
    test_write_path::test_lifeline_read_opens_few_files).

    Pruning is manifest-side (no filesystem LISTs) and always
    conservative: files without obj_key stats (migrated ones) are
    kept, and the object_reference equality filter is re-applied
    row-level, so correctness never depends on the layout."""
    m = snapshot if snapshot is not None else Mf.read(base)
    rels = _object_rels(base, m, object_reference, pulse_gte, pulse_lte)
    if not rels:
        return spark.createDataFrame([], TABLE_SCHEMAS["records"])
    df = _read_rels(spark, base, "records", rels)
    df = df.filter(F.col("object_reference") == object_reference)
    if pulse_gte is not None:
        df = df.filter(F.col("pulse_number") >= pulse_gte)
    if pulse_lte is not None:
        df = df.filter(F.col("pulse_number") <= pulse_lte)
    return df.select(*[f.name for f in TABLE_SCHEMAS["records"].fields])


#: Sidecar skip-or-batch (round-9 brief item 5): a records batch below
#: this row floor defers its object-index delta — the staged data
#: files are listed in manifest meta layout["objidx_pending"] instead,
#: the lifeline read probes pending files directly (still obj_key
#: zone-pruned), and maintain_object_index folds them into the sidecar
#: on the OPTIMIZE cadence. Saves the ~0.4 s fixed per-commit sidecar
#: staging job that dominated small micro-batch ingests
#: (ingest_500x{5,10,20}); large batches still index inline.
OBJIDX_INLINE_ROWS = 100_000
#: Hard cap on deferred files: beyond this the commit indexes inline
#: regardless of size, bounding the lifeline read's extra file opens.
OBJIDX_PENDING_MAX = 32


def _objidx_pending(snap_or_m: dict) -> list[str]:
    return list(
        snap_or_m.get("meta", {}).get("layout", {}).get("objidx_pending", [])
    )


def _bucket_of(pn: int) -> int:
    """Driver-side twin of with_bucket's (pulse/N) cast-to-long —
    truncation toward zero, exactly like Spark's double→long cast."""
    q = abs(pn) // PULSE_BUCKET_SIZE
    return q if pn >= 0 else -q


def _rels_bytes(base: str, rels: list[str]) -> int:
    total = 0
    for r in rels:
        try:
            total += os.path.getsize(os.path.join(base, r))
        except OSError:
            return 1 << 62  # unknown size: treat as big → Spark path
    return total


def _arrow_type(dt):
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    raise TypeError(f"no arrow mapping for {dt}")


def _arrow_schema(name: str):
    import pyarrow as pa

    return pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType)) for f in TABLE_SCHEMAS[name].fields]
    )


#: Sentinel: the bounded collect refused the batch — it is not
#: driver-stageable; take the cluster path.
_TOO_BIG = object()


def _collect_arrow(batch: DataFrame, name: str, bounded: bool):
    """Collect one table's batch to an Arrow table in the pinned
    column order/types, prepped by _prep_arrow_table. Returns the
    prepped table, None for an empty batch, or _TOO_BIG when `bounded`
    and the one bounded probe (placement.collect_bounded) refuses it —
    the LIMIT bounds what the driver ever holds, so probing an
    unknown-size batch is safe, and the probe job replaces the
    planning job the cluster path would have paid anyway."""
    src = batch.select(*[f.name for f in TABLE_SCHEMAS[name].fields])
    tbl = placement.collect_bounded(src) if bounded else src.toArrow()
    if tbl is None:
        return _TOO_BIG
    return _prep_arrow_table(tbl.cast(_arrow_schema(name)), name)


def _prep_arrow_table(tbl, name: str):
    """Prep one already-collected Arrow batch for driver staging:
    dedup by PK (keep-first — upsert's in-batch winner is
    unspecified) and append the pulse_bucket column. Returns None for
    an empty batch. Shared by _collect_arrow and callers that hand
    upsert_many a pyarrow.Table directly (the driver-side ingest
    fast path)."""
    import pyarrow as pa

    if tbl.num_rows == 0:
        return None
    keys = TABLE_KEYS[name]
    kcols = [tbl.column(k).to_pylist() for k in keys]
    seen: set = set()
    idxs: list[int] = []
    for i, kt in enumerate(zip(*kcols)):
        if kt not in seen:
            seen.add(kt)
            idxs.append(i)
    if len(idxs) != tbl.num_rows:
        tbl = tbl.take(pa.array(idxs, type=pa.int64()))
    pns = tbl.column("pulse_number").to_pylist()
    return tbl.append_column(
        "pulse_bucket", pa.array([_bucket_of(p) for p in pns], type=pa.int64())
    )


def _pdf_to_arrow(pdf, name: str):
    """pandas → Arrow in a table's pinned schema, with the same null
    coercions Spark's Arrow serializer applies to applyInPandas
    output: NaN in a float-typed column headed for an integer field
    becomes null, integral floats are truncated back to ints (they
    arise only from pandas' nullable-int→float64 promotion, so the
    truncation is exact). Row counts here are micro-batch scale; the
    per-value loop is nanoseconds against the Spark job it replaces."""
    import math

    import pyarrow as pa

    cols = {}
    for f in TABLE_SCHEMAS[name].fields:
        t = _arrow_type(f.dataType)
        vals = pdf[f.name].tolist() if len(pdf) else []
        if pa.types.is_integer(t) or pa.types.is_boolean(t):
            vals = [
                None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else (bool(v) if pa.types.is_boolean(t) else int(v))
                for v in vals
            ]
        cols[f.name] = pa.array(vals, type=t)
    return pa.table(cols)


def _arrow_keys(tbl, keys: list[str]) -> set:
    return set(zip(*[tbl.column(k).to_pylist() for k in keys]))


def _file_keys(base: str, rels: list[str], keys: list[str]) -> set:
    """Key tuples present in the given data files — the driver-side
    collision probe (column-pruned footer-to-page reads via pyarrow;
    callers gate total bytes first)."""
    import pyarrow.parquet as papq

    out: set = set()
    for rel in rels:
        with papq.ParquetFile(os.path.join(base, rel)) as f:
            t = f.read(columns=keys)
        out.update(zip(*[t.column(k).to_pylist() for k in keys]))
    return out


def _stage_arrow(tbl, stage, name: str) -> list[str]:
    """Driver-side twin of stage.df(_layout(...)): one parquet file
    per touched bucket under base/name/pulse_bucket=N/, records rows
    obj_key-clustered and in-file sorted exactly like _layout. Files
    are invisible until a manifest commit lists them (same contract as
    stage_df; `stage` is the transact attempt's recorder)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    if name == "records":
        refs = tbl.column("object_reference").to_pylist()
        tbl = tbl.append_column(
            OBJ_KEY,
            pa.array(
                [obj_key_py(r) if r is not None else None for r in refs],
                type=pa.int64(),
            ),
        )
    out: list[str] = []
    for b in sorted(set(tbl.column("pulse_bucket").to_pylist())):
        sub = tbl.filter(pc.equal(tbl.column("pulse_bucket"), b))
        if name == "records":
            sub = sub.take(
                pc.sort_indices(
                    sub,
                    sort_keys=[
                        (OBJ_KEY, "ascending"),
                        ("pulse_number", "ascending"),
                        ("order", "ascending"),
                    ],
                    null_placement="at_start",
                )
            )
        rel = stage.file(name, f"pulse_bucket={b}")
        papq.write_table(
            sub.drop_columns(["pulse_bucket"]),
            os.path.join(stage.base, rel), compression="snappy",
        )
        out.append(rel)
    return out


def _read_rels_arrow(base: str, name: str, rels: list[str], cols=None):
    """Driver-side twin of _read_rels: the pinned columns (or just
    `cols`) + the pulse_bucket partition column derived from each
    file's path."""
    import pyarrow as pa

    import pyarrow.parquet as papq

    full = _arrow_schema(name)
    cols = cols or full.names
    schema = pa.schema([full.field(c) for c in cols])
    parts = [schema.append(pa.field("pulse_bucket", pa.int64())).empty_table()]
    for rel in rels:
        # ParquetFile: a third of read_table's per-file cost (no dataset set-up)
        with papq.ParquetFile(os.path.join(base, rel)) as f:
            t = f.read(columns=cols).cast(schema)
        b = _rel_bucket(rel)
        parts.append(
            t.append_column(
                "pulse_bucket", pa.array([b] * t.num_rows, type=pa.int64())
            )
        )
    return pa.concat_tables(parts)


def _plan_and_stage_arrow(
    base: str,
    snap: dict,
    name: str,
    tbl,
    buckets: list[int],
    pulse_bounds: tuple[int, int],
    stage,
) -> tuple[dict[str, list[str]], list[str]] | None:
    """Driver-side twin of _plan_and_stage for an Arrow-collected
    batch under key→bucket affinity. Returns None when the touched
    file bytes exceed placement.MERGE_BYTES — the caller then reruns the
    table through the Spark path (lossless: the Arrow batch converts
    back). Identical decision structure: zone-pruned collision check,
    append-only fast path, bucket merge-rewrite, sidecar delta or
    skip-or-batch defer."""
    import pyarrow as pa

    keys = TABLE_KEYS[name]
    rels = snap["families"].get(name, [])
    touched = _bucket_rels(rels, buckets)
    cand = touched
    if touched:
        cand = Mf.prune_by_stats(
            snap, name, "pulse_number",
            lo=pulse_bounds[0], hi=pulse_bounds[1], rels=touched,
        )
    batch_keys = _arrow_keys(tbl, keys) if cand else None
    collide = False
    existing = None
    if cand:
        if _rels_bytes(base, cand) > placement.MERGE_BYTES:
            return None
        if cand == touched:
            # the probe reads whole files, so a collision merges them
            # without opening any file a second time
            existing = _read_rels_arrow(base, name, touched)
            collide = bool(_arrow_keys(existing, keys) & batch_keys)
        else:
            collide = bool(_file_keys(base, cand, keys) & batch_keys)
    if not collide:
        fams = {name: rels + _stage_arrow(tbl, stage, name)}
    else:
        if existing is None:
            if _rels_bytes(base, touched) > placement.MERGE_BYTES:
                return None
            existing = _read_rels_arrow(base, name, touched)
        kcols = [existing.column(k).to_pylist() for k in keys]
        keep = [i for i, kt in enumerate(zip(*kcols)) if kt not in batch_keys]
        kept = existing.take(pa.array(keep, type=pa.int64()))
        merged = pa.concat_tables([kept, tbl])
        fams = {
            name: [r for r in rels if r not in set(touched)]
            + _stage_arrow(merged, stage, name)
        }

    if name != "records":
        return fams, []

    # sidecar bookkeeping — mirrors _with_objidx exactly
    live = set(fams[name])
    new_data = [r for r in fams[name] if r not in set(rels)]
    old_pending = _objidx_pending(snap)
    carried = [r for r in old_pending if r in live]
    relocated = any(r not in live for r in old_pending)
    first_commit = not rels
    n_rows = tbl.num_rows
    if (
        not first_commit
        and n_rows < OBJIDX_INLINE_ROWS
        and len(carried) + len(new_data) <= OBJIDX_PENDING_MAX
    ):
        return fams, carried + new_data
    refs = tbl.column("object_reference").to_pylist()
    bks = tbl.column("pulse_bucket").to_pylist()
    pairs = sorted(
        {
            (obj_key_py(r) if r is not None else None, b)
            for r, b in zip(refs, bks)
        },
        key=lambda p: (p[0] is not None, p[0] or 0, p[1]),
    )
    import pyarrow.parquet as papq

    sidecar = pa.table(
        {
            OBJ_KEY: pa.array([p[0] for p in pairs], type=pa.int64()),
            "pulse_bucket": pa.array([p[1] for p in pairs], type=pa.int64()),
        }
    )
    irel = stage.file(OBJIDX)
    papq.write_table(sidecar, os.path.join(base, irel), compression="snappy")
    fams[OBJIDX] = snap["families"].get(OBJIDX, []) + [irel]
    # inline delta covers the BATCH pairs only (kept rows' pairs are
    # already indexed — a rewrite never changes a row's bucket);
    # relocated old-pending rows still need their new files probed
    return fams, carried + (new_data if relocated else [])


class BatchStats:
    """Caller-known planning facts for one table's upsert batch —
    lets `upsert_many` skip its per-table planning job (bucket list +
    row count) and zone-prune the collision check. The ingest path
    derives these from the ONE per-pulse aggregate it already runs.

    pulses: the batch's exact pulse_number set (determines the bucket
    list and the [lo, hi] pulse bounds). n_rows: the batch's row count
    before the PK dedup. It only decides placement — the records
    sidecar's skip-or-batch floor and whether staging probes for the
    driver write — so a miscount never changes a result: an over-count
    indexes inline or stages through Spark where the driver would
    have done."""

    __slots__ = ("pulses", "n_rows")

    def __init__(self, pulses: list[int], n_rows: int):
        self.pulses = list(pulses)
        self.n_rows = int(n_rows)

    @property
    def buckets(self) -> list[int]:
        return sorted({p // PULSE_BUCKET_SIZE for p in self.pulses})


def _validate_batch_stats(
    base: str,
    name: str,
    new_rels: list[str],
    buckets: list[int],
    pulse_bounds: tuple[int, int] | None,
) -> None:
    """Caller-declared BatchStats are load-bearing: the bucket list
    decides the rewrite set and the pulse bounds zone-prune the
    collision check, so an under-approximated pulse set would silently
    duplicate replayed keys. The staged files' own footers make the
    check free (no Spark job): every staged data file must land in a
    declared bucket, and — on the append fast path, where staged files
    hold batch rows only — its pulse range must lie within the
    declared bounds. Raises ValueError on violation BEFORE the commit,
    so a bad hint can never publish (and `manifest.transact` discards
    the refused attempt's files). Pinned by
    test_driver_stage::test_understated_batch_stats_refused."""
    allowed = set(buckets)

    def refuse(why: str):
        raise ValueError(
            f"{name}: {why} — the declared pulse set must be exact "
            "(see BatchStats)"
        )

    for r in new_rels:
        b = _rel_bucket(r)
        if b is not None and b not in allowed:
            refuse(
                f"staged file {r} lands in bucket {b}, outside the "
                f"declared BatchStats buckets {sorted(allowed)}"
            )
    if pulse_bounds is None:
        return
    lo, hi = pulse_bounds
    for r, cols in Mf.file_stats(base, new_rels, ["pulse_number"]).items():
        zone = cols.get("pulse_number")
        if zone and (zone[0] < lo or zone[1] > hi):
            refuse(
                f"staged file {r} holds pulses {zone}, outside the "
                f"declared BatchStats bounds [{lo}, {hi}]"
            )


def _plan_and_stage(
    spark: SparkSession,
    base: str,
    snap: dict,
    name: str,
    prep: DataFrame,
    batch_keys: DataFrame,
    buckets: list[int],
    key_bucket_affinity: bool,
    stage,
    n_rows: int = 0,
    pulse_bounds: tuple[int, int] | None = None,
) -> tuple[dict[str, list[str]], list[str]]:
    """One table's share of a transactional upsert against a pinned
    snapshot: stage the files through `stage`, return ({family:
    new_file_list}, objidx_pending_rels) — records also stages its
    object-index sidecar delta (or defers it: pending_rels are staged
    data files whose pairs are NOT yet in the sidecar), so everything
    publishes in the caller's ONE manifest commit. Nothing is visible
    until that commit."""
    keys = TABLE_KEYS[name]
    rels = snap["families"].get(name, [])

    def _with_objidx(fams):
        """Returns (fams, new_complete_pending). Pending
        bookkeeping must survive the merge-rewrite path: a pending
        file whose bucket gets rewritten RELOCATES its not-yet-indexed
        rows into this commit's output files, so those outputs join
        pending whatever else happens — dropping the dangling rel
        alone would silently lose the relocated pairs from lifeline
        probes."""
        if name != "records":
            return fams, []
        live = set(fams[name])
        new_data = [r for r in fams[name] if r not in set(rels)]
        old_pending = _objidx_pending(snap)
        carried = [r for r in old_pending if r in live]
        relocated = any(r not in live for r in old_pending)
        first_commit = not rels
        if (
            not first_commit
            and n_rows < OBJIDX_INLINE_ROWS
            and len(carried) + len(new_data) <= OBJIDX_PENDING_MAX
        ):
            # skip path: this commit's data files carry their own
            # (and any relocated) unindexed pairs
            return fams, carried + new_data
        # coalesce(1), not repartitionByRange(1, ...): range
        # partitioning into ONE partition still pays a range-bounds
        # sampling job + an extra exchange; coalescing the distinct's
        # output to a single sorted partition yields the identical
        # one-file sidecar layout without either (r11, guide §2.4)
        delta = (
            prep.select(obj_key_expr().alias(OBJ_KEY), "pulse_bucket")
            .distinct()
            .coalesce(1)
            .sortWithinPartitions(OBJ_KEY)
        )
        fams[OBJIDX] = snap["families"].get(OBJIDX, []) + stage.df(delta, OBJIDX)
        # inline path: the sidecar delta covers the BATCH pairs only;
        # relocated old-pending rows still need their new files probed
        return fams, carried + (new_data if relocated else [])

    if not key_bucket_affinity and rels:
        # Column-pruned key scan over the full table: any bucket that
        # already holds one of the batch's keys joins the rewrite set,
        # so its stale copy is anti-joined away below (the reference's
        # global ON CONFLICT semantics, storage.go:28-94, at the cost
        # of an O(table keys) scan per merge).
        stale = [
            r.pulse_bucket
            for r in _read_rels(spark, base, name, rels)
            .select(*keys, "pulse_bucket")
            .join(F.broadcast(batch_keys), on=keys, how="left_semi")
            .select("pulse_bucket")
            .distinct()
            .collect()
        ]
        buckets = sorted(set(buckets) | set(stale))

    touched = _bucket_rels(rels, buckets)
    existing = _read_rels(spark, base, name, touched)

    # Fast path — the steady-state ingest case: if no batch key already
    # exists in the touched buckets (a column-pruned key scan + semi
    # join), the batch stages as pure new files and the old bucket data
    # is never rewritten. Cost O(batch), not O(bucket) — at 100 TB a
    # bucket is GB-scale while a micro-batch is KB-scale. Replays and
    # updates (key collision) fall through to the merge-rewrite,
    # preserving upsert semantics.
    # Zone-pruned short-circuit (r11): when the caller supplied the
    # batch's pulse bounds AND the key→bucket affinity invariant holds
    # (a key never changes its pulse, so equal keys ⇒ equal pulse), a
    # touched file whose pulse [min, max] zone cannot intersect the
    # batch's pulse range cannot hold a colliding key. In the steady
    # all-new-pulses state every touched file prunes away and the
    # collision check costs ZERO jobs — the r11 ingest profile showed
    # this check as one ~100-200 ms file-reading job per table per
    # micro-batch. Files without recorded stats are conservatively
    # kept (prune_by_stats), so correctness never depends on stats.
    collisions = 0
    cand = touched
    if touched and key_bucket_affinity and pulse_bounds is not None:
        cand = Mf.prune_by_stats(
            snap, name, "pulse_number",
            lo=pulse_bounds[0], hi=pulse_bounds[1], rels=touched,
        )
    if cand:
        collisions = (
            _read_rels(spark, base, name, cand)
            .select(*keys)
            .join(F.broadcast(batch_keys), on=keys, how="left_semi")
            .limit(1)
            .count()
        )
    # the staged frame holds the batch's rows (a merge adds the kept
    # ones), so a batch count over the staging gate skips stage_df's
    # driver probe
    stage_rows = n_rows or None
    if collisions == 0:
        new_rels = stage.df(
            _layout(name, prep, len(buckets)), name,
            partition_by="pulse_bucket", n_rows=stage_rows,
        )
        if pulse_bounds is not None:
            _validate_batch_stats(base, name, new_rels, buckets, pulse_bounds)
        return _with_objidx({name: rels + new_rels})

    kept = existing.join(F.broadcast(batch_keys), on=keys, how="left_anti")
    merged = kept.select(*prep.columns).unionByName(prep)
    if name == "records" and len(buckets) == 1:
        # keep the bucket scan + anti-join parallel under _layout's
        # one-file coalesce: one plain exchange, no range sampling
        merged = merged.repartition(1)
    new_rels = stage.df(
        _layout(name, merged, len(buckets)), name,
        partition_by="pulse_bucket", n_rows=stage_rows,
    )
    if pulse_bounds is not None:
        # merged files carry old bucket rows too — their pulses span
        # the whole bucket, so only the bucket membership is checkable
        _validate_batch_stats(base, name, new_rels, buckets, None)
    survivors = [r for r in rels if r not in set(touched)]
    return _with_objidx({name: survivors + new_rels})


def upsert_many(
    spark: SparkSession,
    base: str,
    batches: dict[str, DataFrame],
    *,
    key_bucket_affinity: bool = True,
    batch_stats: dict[str, "BatchStats"] | None = None,
) -> None:
    """MERGE several tables' batches in ONE atomic manifest commit —
    the multi-table transaction of the reference's load path
    (etl/storage/storage.go:28-82: jet drops + records + counters in
    a single Postgres txn). whenMatched → replace with batch row (ON
    CONFLICT DO UPDATE); whenNotMatched → insert. Re-running the same
    batches is a no-op by construction.

    Key→bucket affinity: by default PK uniqueness is enforced within
    the buckets the batch touches, under the invariant that a key
    never changes its pulse_number (and hence bucket) — true for the
    reference's data, whose record/jet-drop identity embeds the pulse
    number. Pass ``key_bucket_affinity=False`` for sources that cannot
    guarantee it (widens the collision check to a column-pruned key
    scan of the whole table).

    Concurrency: one `manifest.transact` — staging runs against a
    pinned snapshot, and a writer that loses the CAS re-merges against
    the winner's, so racing same-bucket upserts never lose rows.
    Per-table staging jobs run in parallel threads (they are
    independent Spark jobs).

    batch_stats (r11): optional per-table BatchStats from a caller
    that already knows each batch's pulse set + row count (the ingest
    path computes both in its one transform-materializing job). With
    stats present the per-table planning job (bucket-list + row-count
    collect) is skipped and the collision check is zone-pruned by the
    batch's pulse bounds — in the steady all-new-pulses micro-batch
    state the whole merge plans with ZERO extra Spark jobs per table
    before its staging write. Stats MUST be exact on the pulse set
    (the bucket list decides which existing buckets join the rewrite
    set — an under-approximation would silently duplicate replayed
    keys); n_rows may be an upper bound."""
    _require_migrated(base)
    prepped: dict[str, tuple] = {}

    def spark_prep(name, batch, st):
        keys = TABLE_KEYS[name]
        prep = with_bucket(batch.dropDuplicates(keys)).cache()
        if st is not None:
            # caller-supplied planning facts: no job
            if not st.pulses:
                prep.unpersist()
                return None
            return (
                "spark",
                prep,
                prep.select(*keys).distinct(),
                st.buckets,
                st.n_rows,
                (min(st.pulses), max(st.pulses)),
            )
        # one job yields both the bucket list and the row count
        # (sidecar skip-or-batch)
        bucket_rows = prep.groupBy("pulse_bucket").count().collect()
        buckets = [r.pulse_bucket for r in bucket_rows]
        if not buckets:  # empty batch: no merge
            prep.unpersist()
            return None
        return (
            "spark",
            prep,
            prep.select(*keys).distinct(),
            buckets,
            sum(r["count"] for r in bucket_rows),
            None,
        )

    def one(item, snap, stage):
        # prep (dedup + cache + bucket collect) is fused into the same
        # worker thread as the staging job, so a 3-table micro-batch
        # pipelines per table instead of paying a prep barrier; an
        # attempt replanned after a CAS conflict reuses the cached prep.
        name, batch = item
        if not isinstance(batch, DataFrame) and not (
            key_bucket_affinity and placement.admits()
        ):
            # pyarrow input without bucket affinity needs the widened
            # collision check only the Spark path implements, and with
            # the driver gate off it stages through Spark — convert
            # once (lossless)
            batch = spark.createDataFrame(batch, TABLE_SCHEMAS[name])
        if name not in prepped:
            st = (batch_stats or {}).get(name)
            # Driver-path eligibility. A pyarrow.Table batch (the
            # driver-side ingest fast path) is already collected —
            # prep it with zero jobs. With caller stats the row count
            # is declared; without them the batch is PROBED with a
            # bounded collect (LIMIT cap+1) — Catalyst's estimate is
            # Long.Max for local relations and join outputs, i.e.
            # exactly the micro-batches that benefit most, so an
            # estimate gate alone routes them to the cluster path for
            # nothing. The probe job costs what the cluster path's
            # planning job cost.
            tbl = _TOO_BIG
            if not isinstance(batch, DataFrame):
                cols = [f.name for f in TABLE_SCHEMAS[name].fields]
                tbl = _prep_arrow_table(
                    batch.select(cols).cast(_arrow_schema(name)), name
                )
            elif (
                key_bucket_affinity
                and (st is None or st.pulses)
                and placement.admits(None if st is None else st.n_rows)
            ):
                tbl = _collect_arrow(batch, name, bounded=st is None)
            if st is not None and not st.pulses:
                prepped[name] = None
            elif tbl is None:
                prepped[name] = None
            elif tbl is _TOO_BIG:
                prepped[name] = spark_prep(name, batch, st)
            else:
                pns = set(tbl.column("pulse_number").to_pylist())
                prepped[name] = (
                    "arrow",
                    tbl,
                    sorted({_bucket_of(p) for p in pns}),
                    (min(pns), max(pns)),
                )
        if prepped[name] is None:
            return name, None
        if prepped[name][0] == "arrow":
            _tag, tbl, buckets, bounds = prepped[name]
            r = _plan_and_stage_arrow(base, snap, name, tbl, buckets, bounds, stage)
            if r is not None:
                return name, r
            # touched files exceed the driver merge gate: switch this
            # table to the Spark path for good (the collected pulse set
            # is exact, so the planning facts ride along for free)
            pns = sorted(set(tbl.column("pulse_number").to_pylist()))
            prepped[name] = spark_prep(
                name,
                spark.createDataFrame(
                    tbl.drop_columns(["pulse_bucket"]), TABLE_SCHEMAS[name]
                ),
                BatchStats(pns, tbl.num_rows),
            )
        _tag, prep, bkeys, buckets, n_rows, bounds = prepped[name]
        return name, _plan_and_stage(
            spark, base, snap, name, prep, bkeys, buckets,
            key_bucket_affinity, stage, n_rows=n_rows, pulse_bounds=bounds,
        )

    def attempt(snap, stage):
        items = list(batches.items())
        if len(items) > 1:
            with ThreadPoolExecutor(max_workers=len(items)) as ex:
                futures = [ex.submit(one, item, snap, stage) for item in items]
            # a refused table fails the whole attempt; the files its
            # siblings staged are in `stage`, so transact discards them
            results = [f.result() for f in futures]
        else:
            results = [one(items[0], snap, stage)]
        results = [(name, r) for name, r in results if r is not None]
        if not results:
            return None, None
        families = dict(snap["families"])
        meta: dict = {"kind": "upsert"}
        layout = dict(snap.get("meta", {}).get("layout", {}))
        for name, (fam_updates, pending) in results:
            families.update(fam_updates)
            if name == "records":
                # complete replacement of the pending set (already
                # carries survivors + this commit's deferrals)
                layout["objidx_pending"] = sorted(pending)
                if not pending:
                    layout.pop("objidx_pending", None)
                meta["layout"] = layout
        if "records" in batches and not snap["families"].get("records"):
            # A fresh store's first records commit: the delta IS full
            # coverage, so the object index is trustworthy from birth.
            # Migrated warehouses must run build_object_index once.
            layout["objidx"] = "full"
            meta["layout"] = layout
        stats = Mf.file_stats(base, stage.rels, ["pulse_number", OBJ_KEY])
        return None, {"families": families, "meta": meta, "stats": stats}

    try:
        Mf.transact(base, attempt)
    finally:
        for v in prepped.values():
            if v is not None and v[0] == "spark":
                v[1].unpersist()


def upsert(
    spark: SparkSession,
    base: str,
    name: str,
    batch: DataFrame,
    *,
    key_bucket_affinity: bool = True,
) -> None:
    """Single-table MERGE (see upsert_many)."""
    upsert_many(
        spark, base, {name: batch}, key_bucket_affinity=key_bucket_affinity
    )


def save_jet_drop_data(
    spark: SparkSession,
    base: str,
    jet_drops: DataFrame,
    records: DataFrame,
) -> None:
    """S4: persist a batch of canonical jet drops + their records in
    ONE atomic commit (drops keyed (pulse, jet), records keyed
    reference) — the same all-or-nothing visibility as the reference's
    single load txn (etl/storage/storage.go:28-82). Counters are
    derived, so replay after any crash converges to the same state.
    """
    upsert_many(spark, base, {"jet_drops": jet_drops, "records": records})


def save_pulse(spark: SparkSession, base: str, pulses: DataFrame) -> None:
    """S5: upsert pulses keyed pulse_number."""
    upsert(spark, base, "pulses", pulses)


def delete_where(spark: SparkSession, base: str, name: str, predicate) -> int:
    """Targeted delete (retention / right-to-be-forgotten): remove
    rows matching `predicate`, rewriting ONLY the buckets that contain
    matches, published as one atomic manifest swap. Returns rows
    deleted. A reader holding the pre-delete snapshot keeps it (old
    files are immutable until vacuum — pinned by
    test_write_path::test_reader_snapshot_survives_delete); a bucket
    whose every row matched simply stops being listed. Rows where the
    predicate evaluates to NULL are KEPT (three-valued logic: delete
    removes exactly the rows `filter(predicate)` matches)."""
    _require_migrated(base)

    def attempt(snap, stage):
        rels = snap["families"].get(name, [])
        if not rels:
            return 0, None
        df = _read_rels(spark, base, name, rels)
        hit_buckets = [
            r.pulse_bucket
            for r in df.filter(predicate).select("pulse_bucket").distinct().collect()
        ]
        if not hit_buckets:
            return 0, None
        touched = _bucket_rels(rels, hit_buckets)
        tdf = _read_rels(spark, base, name, touched)
        kept = tdf.filter(~F.coalesce(predicate, F.lit(False)))
        n_deleted = tdf.count() - kept.count()
        new_rels = stage.df(
            _layout(name, kept, len(hit_buckets)), name, partition_by="pulse_bucket"
        )
        families = dict(snap["families"])
        families[name] = [r for r in rels if r not in set(touched)] + new_rels
        meta: dict = {"kind": "delete"}
        if name == "records":
            meta.update(_remap_pending(snap, set(touched), new_rels))
        return n_deleted, {
            "families": families,
            "meta": meta,
            "stats": Mf.file_stats(base, new_rels, ["pulse_number", OBJ_KEY]),
        }

    return Mf.transact(base, attempt)


def _remap_pending(
    snap: dict, removed: set[str], new_rels: list[str]
) -> dict:
    """Meta update keeping objidx_pending truthful across a records
    rewrite (delete/compact): survivors stay pending; if any pending
    file was rewritten, its not-yet-indexed rows now live in the
    rewrite's output files, so those join pending. Returns {} when
    nothing was pending (leave layout alone — it's a persistent key)."""
    old_pending = _objidx_pending(snap)
    if not old_pending:
        return {}
    carried = [r for r in old_pending if r not in removed]
    relocated = any(r in removed for r in old_pending)
    layout = dict(snap.get("meta", {}).get("layout", {}))
    pending = sorted(set(carried) | (set(new_rels) if relocated else set()))
    if pending:
        layout["objidx_pending"] = pending
    else:
        layout.pop("objidx_pending", None)
    return {"layout": layout}


def _files_per_bucket(rels: list[str]) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for r in rels:
        b = _rel_bucket(r)
        if b is not None:
            out.setdefault(b, []).append(r)
    return out


def compact_table(
    spark: SparkSession, base: str, name: str, max_files_per_bucket: int = 4
) -> dict:
    """Compact bucket directories that accumulated more than
    `max_files_per_bucket` part-files (per-micro-batch appends — the
    O(batch) upsert fast path — leave one file per batch; a day of
    10 s batches is ~8600 files per hot bucket, and file-open overhead
    then dominates scans). Rewrites ONLY the offending buckets, one
    task (= one output file) per bucket via repartition on the bucket
    column, published as one manifest swap (readers keep their
    snapshot; old files wait for vacuum). Returns
    {buckets_compacted, files_before, files_after}.
    """
    _require_migrated(base)

    def attempt(snap, stage):
        rels = snap["families"].get(name, [])
        needy = {
            b: fs
            for b, fs in _files_per_bucket(rels).items()
            if len(fs) > max_files_per_bucket
        }
        if not needy:
            return {"buckets_compacted": 0, "files_before": 0, "files_after": 0}, None
        touched = [r for fs in needy.values() for r in fs]
        df = _read_rels(spark, base, name, touched)
        if name == "records":
            # The OPTIMIZE pass for the lifeline read path: each
            # compacted bucket lands as `max_files_per_bucket` files
            # covering DISJOINT obj_key slices (range-partition on
            # (bucket, obj_key) + in-file sort), so steady state an
            # object-point read opens 1 file per bucket, not the
            # bucket's whole accumulation.
            compacted = _layout(name, df, len(needy) * max_files_per_bucket)
        else:
            compacted = df.repartition("pulse_bucket")
        new_rels = stage.df(compacted, name, partition_by="pulse_bucket")
        families = dict(snap["families"])
        families[name] = [r for r in rels if r not in set(touched)] + new_rels
        meta = {"kind": "compact", "data_change": False}
        if name == "records":
            meta.update(_remap_pending(snap, set(touched), new_rels))
        out = {
            "buckets_compacted": len(needy),
            "files_before": len(touched),
            "files_after": len(new_rels),
        }
        return out, {
            "families": families,
            "meta": meta,
            "stats": Mf.file_stats(base, new_rels, ["pulse_number", OBJ_KEY]),
        }

    out = Mf.transact(base, attempt)
    if name == "records" and out["buckets_compacted"]:
        # same OPTIMIZE cadence: fold the object-index sidecar's
        # per-commit delta files too
        maintain_object_index(spark, base, min_files=max_files_per_bucket + 1)
    return out
