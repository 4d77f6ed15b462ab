"""Incremental curated-corpus store — the production crawl-ingest shape.

A pre-training corpus is not built in one batch: crawls arrive daily
and must flow through quality gates and deduplication AGAINST
EVERYTHING ALREADY ACCEPTED, with replay safety. This module is that
loop, composed from the certified operators (quality gates = q23/q76
shapes, fingerprint dedup = q20, md5 identity = q55's portability
argument) over a bucketed parquet layout:

  - Row identity is the content fingerprint (functions.text.
    word_set_fingerprint — md5 of the sorted distinct token set), so
    the store IS its own dedup index: there is no separate index table
    that could desync from the data on a crash.
  - Files partition by fp_bucket = pmod(xxhash64(fp), N_BUCKETS), so
    the cross-batch dedup join reads ONLY the buckets the batch's
    fingerprints hash into — at 100 TB a daily batch touches a bounded
    byte volume, not the corpus (the same directory-pruning contract
    as the GBE store's pulse buckets, parquet.read_table).
  - Ingest appends only fingerprints PROVEN absent, so replaying a
    batch after any crash converges: committed rows are skipped as
    known, uncommitted staged files are invisible until vacuumed —
    idempotent AND atomic since round 5 (pinned by
    test_ingest_crash_before_commit_is_invisible_and_replay_converges).

Scale shape per ingest: quality gates are map-only; in-batch dedup is
one small groupBy; cross-batch dedup is one join against a
partition-pruned slice of the store; the append writes only new rows.

Writes are TRANSACTIONAL (round 5): every mutation stages immutable
uniquely-named files, then publishes them with one atomic manifest
swap (sources/manifest.py — the compare-and-swap commit the reference
gets from Postgres, etl/storage/storage.go:28-82). Docs and the LSH
band sidecar commit in the SAME manifest, so they can never desync;
racing ingests serialize through the CAS (the loser re-validates its
dedup against the winner's commit and retries); deletes stop listing
files instead of removing them, so concurrent readers keep a
consistent snapshot until `manifest.vacuum`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from block_explorer_spark.functions import text as Tx
from block_explorer_spark.operators import dedup as D
from block_explorer_spark.sources import manifest as Mf

N_BUCKETS = 64
#: LSH sidecar parameters — must stay fixed for the lifetime of a
#: store (band hashes are only comparable within one family).
LSH_HASHES = 128
LSH_BANDS = 16

BANDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("bhash", T.LongType()),
    ]
)

#: ExactSubstr sidecar (round 6): one row per W-token sliding window
#: of every ACCEPTED document — q95's candidate structure
#: (operators/substrings.py, Lee et al. 2022 arXiv:2107.06499),
#: persisted beside the LSH band sidecar so a crawl batch's windows
#: can probe everything already accepted.
WHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("whash", T.StringType()),
    ]
)

#: Stored schema: the driver documents columns + fingerprint + token
#: count (the two things every later pipeline stage re-derives).
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("fp", T.StringType()),
        T.StructField("ntok", T.LongType()),
    ]
)

#: Change-feed row (round 6): op 'insert' | 'update' | 'delete' plus
#: the document columns (NULL except doc_id/fp for deletes). Inserts
#: are implied by ingest commits' added doc files — only mutations
#: that REWRITE history (delete, sweep) stage explicit rows into the
#: `cdc` family, committed in the same manifest swap as the mutation
#: itself, so the feed can never desync from the data.
CDC_SCHEMA = T.StructType(
    [T.StructField("op", T.StringType())] + list(CORPUS_SCHEMA.fields)
)


def _rekey(id_col: str, offset: int):
    """uid = 2*id + offset, with a row-level guard: ids outside
    [0, 2^62) would silently wrap the doubled key and the later
    `(uid-1) DIV 2` decode would target the wrong document (ADVICE
    r4). assert_true is JVM-side — no extra job, raises on violation."""
    ok = F.assert_true(
        F.col(id_col).between(0, (1 << 62) - 1),
        F.lit(f"{id_col} outside [0, 2^62): 2*id re-key would overflow"),
    )
    return F.when(ok.isNull(), F.col(id_col) * 2 + offset)


def _docs_path(base: str) -> str:
    return os.path.join(base, "corpus")


def _prepared(batch: DataFrame) -> DataFrame:
    """Map-only projection: fingerprint + token count + bucket."""
    return batch.select(
        "doc_id",
        "text",
        "lang",
        "source",
        Tx.word_set_fingerprint("text").alias("fp"),
        Tx.token_count("text").cast("long").alias("ntok"),
    ).withColumn("fp_bucket", F.pmod(F.xxhash64("fp"), F.lit(N_BUCKETS)))


_FULL_SCHEMA = T.StructType(
    list(CORPUS_SCHEMA.fields) + [T.StructField("fp_bucket", T.LongType())]
)


def _bucket_files(rels: list[str], buckets, tag: str) -> list[str]:
    """Python-side partition pruning over manifest relpaths: the files
    under a `tag=<b>` directory for one of `buckets` — at 100 TB the
    manifest IS the file listing, so pruning costs no filesystem
    round trips at all."""
    tags = {f"{tag}={b}{os.sep}" for b in buckets}
    return [r for r in rels if any(t in r for t in tags)]


def _read_docs_files(
    spark: SparkSession, base: str, rels: list[str]
) -> DataFrame:
    if not rels:
        return spark.createDataFrame([], _FULL_SCHEMA)
    return (
        spark.read.schema(_FULL_SCHEMA)
        .option("basePath", _docs_path(base))
        .parquet(*sorted(os.path.join(base, r) for r in rels))
    )


#: family -> data directory of every family `migrate` adopts.
_DATA_DIRS = {"docs": "corpus", "bands": "bands", "whashes": "whashes"}


def read_corpus(
    spark: SparkSession, base: str, snapshot: dict | None = None
) -> DataFrame:
    """Schema-pinned read of the curated corpus at the latest (or a
    pinned) manifest snapshot; absent store = empty."""
    m = snapshot if snapshot is not None else Mf.read(base)
    Mf.require_migrated(
        base, sorted(_DATA_DIRS.values()), "corpus_store.migrate", m["version"]
    )
    df = _read_docs_files(spark, base, m["families"].get("docs", []))
    return df.select(*[f.name for f in CORPUS_SCHEMA.fields])


#: Band-sidecar partition fan-out (round-6 item 6): the band sidecar
#: buckets by hash of (band, bhash) so batch probes prune to the
#: buckets the batch's band hashes fall in — the fp_buckets recipe
#: applied to the index (the whash sidecar's layout: W_RANGES).
N_SIDECAR_BUCKETS = 16


def _band_bucket_col():
    return F.pmod(F.xxhash64("band", "bhash"), F.lit(N_SIDECAR_BUCKETS))


#: Round-7 whash-sidecar layout: partitioned by wr = the whash's first
#: hex nibble (16 STATIC ranges — a value-derived key, so the range a
#: hash lives in never depends on store state), rows sorted by whash
#: within each file. What each axis buys:
#:   - probe pruning: a SMALL probe (few distinct hashes — the
#:     incremental steady state of point re-checks / tiny batches)
#:     opens only the wr dirs its hashes fall in. A whole-batch probe
#:     with B >> 16 uniform hashes hits every range — no file layout
#:     can prune that (P(range untouched) = (15/16)^B ≈ 0), which is
#:     WHY the probe's execution shape, not its file list, is the
#:     scale lever: the store side is scanned ONCE, map-only, against
#:     a broadcast of the batch's hash set — no store-side distinct,
#:     no store-side shuffle (the r6 shape shuffled the whole sidecar
#:     per batch and drifted +20%/10 rounds).
#:   - delete pruning: wr files record doc_id [min,max] zone maps in
#:     the manifest (crawl batches are id-monotone, so zones are
#:     tight); an RTBF delete opens only files whose zone can hold a
#:     doomed id.
W_RANGES = 16

#: sidecar family -> the partition directory every one of its files
#: sits under in the current layout.
_SIDECAR_TAGS = {"bands": "bh_bucket", "whashes": "wr"}


def _sidecar_rels(snap: dict, family: str) -> list[str]:
    """The sidecar family's relpaths in `snap`, checked to be in the
    current layout. A band file outside a `bh_bucket=` directory (the
    pre-bucketed layout) or a whash file outside a `wr=` one (the
    `doc_bucket=` layout) can hold any row, so a pruned probe or
    delete would silently miss it: raise, naming `migrate`."""
    rels = snap["families"].get(family, [])
    old = [r for r in rels if f"{_SIDECAR_TAGS[family]}=" not in r]
    if old:
        raise RuntimeError(
            f"{len(old)} {family} files are in a layout an earlier round "
            "wrote; run corpus_store.migrate(base) once"
        )
    return rels


#: Collect-and-prune probes only below this many distinct batch
#: hashes (beyond ~16·ln16 ≈ 44 every wr range is hit anyway).
SUBSTR_POINT_PROBE_MAX = 64

#: Broadcast the batch hash set up to this size (16-char strings:
#: ~50 MB worst case in one local JVM); past it, fall back to the
#: shuffle semi-join.
SUBSTR_BROADCAST_MAX = 1_000_000

#: Collect doomed doc_ids for per-file zone checks up to this count;
#: past it, prune with the [min,max] doomed-id interval only.
DELETE_ID_COLLECT_MAX = 100_000


def _wr_col():
    return F.conv(F.substring("whash", 1, 1), 16, 10).cast("int")


def _stage_whashes(df: DataFrame, stage) -> list[str]:
    """Stage windows in the wr layout: one file per touched range,
    rows sorted by whash (tight row-group stats for free)."""
    return stage.df(
        df.select("doc_id", "pos", "whash")
        .withColumn("wr", _wr_col())
        .repartition("wr")
        .sortWithinPartitions("whash"),
        "whashes", partition_by="wr",
    )


def _whash_files_for_ids(
    manifest: dict, rels: list[str], doomed_ids: list[int] | None,
    lo: int, hi: int,
) -> list[str]:
    """Whash files that can hold a doomed doc's rows: files prune by
    their manifest doc_id zone (against the sorted doomed-id list when
    collected, else the [lo, hi] envelope); a file without a recorded
    zone (an unreadable footer or a row group without min/max, see
    `manifest.file_stats`) could hold any id and is always kept."""
    import bisect

    stats = manifest.get("stats", {})
    out = []
    for rel in rels:
        zone = stats.get(rel, {}).get("doc_id")
        if zone is None:
            out.append(rel)
            continue
        if doomed_ids is not None:
            i = bisect.bisect_left(doomed_ids, zone[0])
            if i < len(doomed_ids) and doomed_ids[i] <= zone[1]:
                out.append(rel)
        elif not (zone[1] < lo or zone[0] > hi):
            out.append(rel)
    return out


def _doc_bands(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band, bhash, bh_bucket) LSH rows for a document frame
    — the same fused Arrow MinHash+banding stage the q25 gate
    certifies, plus the sidecar partition bucket."""
    b = D._banded_signatures(
        df, id_col, Tx.word_ngrams("text", 3), LSH_HASHES, LSH_BANDS
    )
    return b.select(
        F.col("__id").alias("doc_id"), "band", "bhash"
    ).withColumn("bh_bucket", _band_bucket_col())


def _read_band_files(
    spark: SparkSession, base: str, rels: list[str]
) -> DataFrame:
    """Direct file-list read, schema-pinned: the bucket lives only in
    the path, never in the rows."""
    if not rels:
        return spark.createDataFrame([], BANDS_SCHEMA)
    return spark.read.schema(BANDS_SCHEMA).parquet(
        *sorted(os.path.join(base, r) for r in rels)
    )


def read_bands(
    spark: SparkSession, base: str, snapshot: dict | None = None
) -> DataFrame:
    m = snapshot if snapshot is not None else Mf.read(base)
    return _read_band_files(spark, base, _sidecar_rels(m, "bands"))


def _read_whash_files(
    spark: SparkSession, base: str, rels: list[str]
) -> DataFrame:
    if not rels:
        return spark.createDataFrame([], WHASH_SCHEMA)
    return spark.read.schema(WHASH_SCHEMA).parquet(
        *sorted(os.path.join(base, r) for r in rels)
    )


def read_whashes(
    spark: SparkSession, base: str, snapshot: dict | None = None
) -> DataFrame:
    m = snapshot if snapshot is not None else Mf.read(base)
    return _read_whash_files(spark, base, _sidecar_rels(m, "whashes"))


def _read_cdc_files(
    spark: SparkSession, base: str, rels: list[str]
) -> DataFrame:
    if not rels:
        return spark.createDataFrame([], CDC_SCHEMA)
    return spark.read.schema(CDC_SCHEMA).parquet(
        *sorted(os.path.join(base, r) for r in rels)
    )


def _id_zones(base: str, rels: list[str]) -> dict:
    """doc_id zone maps for freshly staged doc and whash files,
    recorded at commit time. Doc zones let point lookups
    (read_docs_by_ids) open only the files whose [min,max] can hold a
    requested id; whash zones are the delete path's pruning index (see
    W_RANGES). Crawl batches are roughly id-monotone, so the zones are
    tight."""
    return Mf.file_stats(base, rels, ["doc_id"])


_CHANGES_OUT = ["version", "op"] + [f.name for f in CORPUS_SCHEMA.fields]


def changes_since(
    spark: SparkSession,
    base: str,
    since_version: int,
    until_version: int | None = None,
) -> DataFrame:
    """The corpus change feed in (since_version, until_version] — what
    an incremental downstream pipeline (tokenize only the new docs,
    refresh an index, mirror to another region) consumes instead of
    re-scanning the corpus. One row per changed document:
    (version, op, <document columns>), where op is

      - 'insert' — read straight from the files an ingest commit added
        (zero write amplification for the overwhelmingly-common case);
      - 'update' / 'delete' — read from the `cdc` rows a rewriting
        mutation (delete_where, substr_sweep) staged in ITS OWN commit
        swap, so the feed is exactly as atomic as the data.

    Commits flagged data_change=false (compact, canonicalize) move
    bytes but not rows and are invisible here — a consumer never
    re-processes a document because maintenance rewrote its file.

    Retention: the walk needs every manifest in the range;
    `manifest.vacuum(keep_last=K)` bounds it and `added_files` raises
    the loud retention error past the bound — consumers resync from a
    snapshot read, never from a silently truncated feed. Consumers
    checkpoint `Mf.current_version(base)` alongside their output (the
    same offsets-in-commit-log recipe as Structured Streaming's file
    source)."""
    entries = Mf.added_files(
        base, since_version=since_version, until_version=until_version
    )
    frames = []
    for e in entries:
        meta = e.get("meta", {})
        if meta.get("data_change", True) is False:
            continue
        if meta.get("cdc") == "log":
            df = _read_cdc_files(spark, base, e["added"].get("cdc", []))
        else:
            df = _read_docs_files(
                spark, base, e["added"].get("docs", [])
            ).select(
                F.lit("insert").alias("op"),
                *[f.name for f in CORPUS_SCHEMA.fields],
            )
        frames.append(df.withColumn("version", F.lit(e["version"]).cast("long")))
    if not frames:
        return spark.createDataFrame(
            [], T.StructType(
                [T.StructField("version", T.LongType())] + list(CDC_SCHEMA.fields)
            )
        ).select(*_CHANGES_OUT)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(*_CHANGES_OUT)


def truncate_change_log(spark: SparkSession, base: str) -> int:
    """Retire every staged `cdc` file in one data_change=false commit
    (their bytes wait for vacuum). Run it once all consumers'
    checkpoints have passed the current version: the inserts half of
    the feed costs nothing to keep (it IS the data), but delete/update
    rows accumulate with mutation history. Returns files retired."""

    def attempt(snap, _stage):
        families = dict(snap["families"])
        rels = families.pop("cdc", [])
        if not rels:
            return 0, None
        return len(rels), {
            "families": families,
            "meta": {"kind": "truncate_change_log", "data_change": False},
        }

    return Mf.transact(base, attempt)


def read_docs_by_ids(
    spark: SparkSession,
    base: str,
    doc_ids: list[int],
    snapshot: dict | None = None,
) -> DataFrame:
    """Point lookups by doc_id, zone-map pruned: only files whose
    recorded [min,max] doc_id zone contains one of the requested ids
    are opened (a file without a zone — an unreadable footer or a row
    group without min/max — is read conservatively). The fp_bucket layout serves the every-batch dedup
    path; this serves the doc_id-keyed access the near-dup candidate
    fetch and RTBF tooling want, without a second copy of the corpus
    (pinned by test_corpus_store::test_point_lookup_prunes_files)."""
    m = snapshot if snapshot is not None else Mf.read(base)
    rels = m["families"].get("docs", [])
    if not rels or not doc_ids:
        return spark.createDataFrame([], CORPUS_SCHEMA)
    import bisect

    ids = sorted(set(doc_ids))
    stats = m.get("stats", {})

    def _may_hold(rel: str) -> bool:
        zone = stats.get(rel, {}).get("doc_id")
        if zone is None:
            return True
        i = bisect.bisect_left(ids, zone[0])
        return i < len(ids) and ids[i] <= zone[1]

    keep = [r for r in rels if _may_hold(r)]
    return (
        _read_docs_files(spark, base, keep)
        .filter(F.col("doc_id").isin([int(i) for i in ids]))
        .select(*[f.name for f in CORPUS_SCHEMA.fields])
    )


def _doc_whashes(df: DataFrame, window: int) -> DataFrame:
    from block_explorer_spark.operators import substrings as Sub

    return Sub.token_windows(df, "doc_id", "text", window).select(
        "doc_id", F.col("pos").cast("int").alias("pos"), "whash"
    )


def _substr_filter(
    spark: SparkSession,
    base: str,
    fresh: DataFrame,
    window: int,
    min_tokens: int,
    snapshot: dict,
) -> tuple[DataFrame, DataFrame, int, int]:
    """Incremental ExactSubstr tier (round-6 item 3): strip from the
    batch every >=W-token run that verbatim-duplicates either an
    ACCEPTED document (probe of the persisted whash sidecar — the
    store always wins) or an earlier position in the batch itself
    (q95's globally-first-survives rule, batch-local).

    Returns (accepted, accepted_windows, n_stripped, n_gated):
    `accepted` carries rebuilt text/fp/ntok/fp_bucket for stripped
    docs; docs whose stripped text falls under the token floor are
    gated out; a stripped doc whose cleaned text now fingerprints
    identically to a stored or batch doc is dropped as a duplicate
    (this is also what makes REPLAY converge: re-ingesting a batch
    whose docs were stripped reproduces the same cleaned text, whose
    fp is already stored). `accepted_windows` is the sidecar slice to
    commit for the accepted docs — recomputed on the FINAL text, so
    the sidecar always mirrors what is stored.

    Scale shape (round 7): window hashing is map-only over the batch.
    The store probe reads ONE projected column of the sidecar (never
    the corpus text) in a SINGLE map-only pass — the batch's distinct
    hash set is broadcast and the store side is semi-joined against it
    with zero store-side shuffle and zero store-side distinct (the r6
    shape shuffled + deduped the whole sidecar per batch; that was the
    +20%/10-round drift store_bench measured). Small probes (≤
    SUBSTR_POINT_PROBE_MAX distinct hashes) additionally prune the
    file list to the wr ranges their hashes fall in — see the
    W_RANGES note for why whole-batch probes can't file-prune. Span
    merge is one doc_id shuffle over marked rows only. The remaining
    growth term is the sequential column scan itself (∝ corpus);
    production amortizes it by folding probes into the daily
    `substr_sweep` batch pass.
    """
    from block_explorer_spark.operators import substrings as Sub

    fresh = fresh.localCheckpoint()  # cut lineage: reused ~4x below
    wins = _doc_whashes(fresh, window).localCheckpoint()
    bw = wins.select("whash").distinct().localCheckpoint()
    n_bw = bw.count()
    whash_rels = _sidecar_rels(snapshot, "whashes")
    if n_bw <= SUBSTR_POINT_PROBE_MAX:
        wrs = [r.wr for r in bw.select(_wr_col().alias("wr")).distinct().collect()]
        whash_rels = _bucket_files(whash_rels, wrs, "wr")
    stored_hashes = _read_whash_files(spark, base, whash_rels).select("whash")
    if n_bw <= SUBSTR_BROADCAST_MAX:
        hits = stored_hashes.join(F.broadcast(bw), "whash", "left_semi").distinct()
        vs_store = wins.join(F.broadcast(hits), "whash", "left_semi").select("doc_id", "pos")
    else:
        vs_store = wins.join(
            stored_hashes.distinct(), "whash", "left_semi"
        ).select("doc_id", "pos")
    in_batch = Sub.marked_occurrences(wins, "doc_id")
    marked = vs_store.unionByName(in_batch).distinct()
    spans = Sub.merge_spans(marked, "doc_id", window)
    stripped = Sub.strip_spans(fresh, spans, "doc_id", "text").localCheckpoint()
    n_stripped = stripped.count()
    if not n_stripped:
        return fresh, wins, 0, 0

    # rebuild the stripped docs: new text -> new fp/ntok/bucket
    rebuilt_all = _prepared(
        fresh.select("doc_id", "lang", "source")
        .join(stripped.select("doc_id", F.col("cleaned_text").alias("text")), "doc_id")
        .select("doc_id", "text", "lang", "source")
    ).localCheckpoint()
    survivors = rebuilt_all.filter(F.col("ntok") >= min_tokens)
    n_gated = n_stripped - survivors.count()

    untouched = fresh.join(stripped.select("doc_id"), "doc_id", "left_anti")
    # post-strip fp re-check: cleaned text may now duplicate a stored
    # doc (the replay case) or another batch doc
    buckets = [r.fp_bucket for r in survivors.select("fp_bucket").distinct().collect()]
    slice_rels = _bucket_files(
        snapshot["families"].get("docs", []), buckets, "fp_bucket"
    )
    stored_fps = (
        _read_docs_files(spark, base, slice_rels).select("fp")
        if slice_rels
        else spark.createDataFrame([], "fp string")
    )
    batch_fps = untouched.select("fp")
    survivors = (
        survivors.join(stored_fps, "fp", "left_anti")
        .join(batch_fps, "fp", "left_anti")
    )
    # in-rebuilt fp dedup (two stripped docs converging to one text)
    w = survivors.groupBy(F.col("fp").alias("w_fp")).agg(
        F.min("doc_id").alias("keep_id")
    )
    survivors = survivors.join(
        w,
        (survivors.fp == w.w_fp) & (survivors.doc_id == w.keep_id),
        "left_semi",
    ).localCheckpoint()
    n_kept_stripped = survivors.count()
    n_dropped_dup = n_stripped - n_gated - n_kept_stripped
    accepted = untouched.unionByName(survivors).localCheckpoint()
    # sidecar windows for the FINAL text: reuse the batch windows for
    # untouched docs, recompute only the stripped survivors'
    final_wins = wins.join(
        stripped.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(_doc_whashes(survivors, window))
    return accepted, final_wins, n_kept_stripped, n_gated + n_dropped_dup


def ingest(
    spark: SparkSession,
    base: str,
    batch: DataFrame,
    min_tokens: int = 20,
    max_dup_word_frac: float = 0.3,
    near_dup_threshold: float | None = None,
    substr_window: int | None = None,
) -> dict:
    """One curation ingest round. Returns the audit counts
    {n_in, n_gated, n_batch_dup, n_known, n_added}.

    Stages (one composed plan up to the final staged write):
      1. quality gates — token floor + repeated-word ceiling, map-only;
      2. in-batch dedup — min doc_id per fingerprint (q86's rule);
      3. cross-batch dedup — left-anti against the snapshot slice
         whose fp_buckets the batch touches (manifest-pruned read);
      4. stage the survivors (+ their band rows) and COMMIT one
         manifest listing both — docs and the LSH sidecar publish
         atomically, so the round-4 crash window (docs landed, bands
         missing) and its replay-heal are gone by construction.

    Concurrency: dedup runs against a pinned manifest snapshot in one
    `manifest.transact`, which re-runs it against the winner's
    snapshot after a lost CAS — two racing ingests of overlapping
    content can never both land the same fingerprint (pinned by
    test_corpus_store::test_concurrent_ingests_never_duplicate)."""
    prepared = _prepared(batch).cache()
    n_in = prepared.count()

    gated = prepared.filter(
        (F.col("ntok") >= min_tokens)
        & (Tx.duplicate_ngram_fraction("text", 1) <= max_dup_word_frac)
    )
    n_gated_out = n_in - gated.count()

    winners = gated.groupBy(F.col("fp").alias("w_fp")).agg(
        F.min("doc_id").alias("keep_id")
    )
    canon = gated.join(
        winners,
        (gated.fp == winners.w_fp) & (gated.doc_id == winners.keep_id),
        "left_semi",
    ).cache()
    n_canon = canon.count()
    n_batch_dup = (n_in - n_gated_out) - n_canon
    buckets = [r.fp_bucket for r in canon.select("fp_bucket").distinct().collect()]


    def attempt(snap, stage):
        doc_rels = snap["families"].get("docs", [])
        slice_rels = _bucket_files(doc_rels, buckets, "fp_bucket")
        if slice_rels:
            store_slice = _read_docs_files(spark, base, slice_rels).select(
                "doc_id", "fp", "text"
            )
            fresh = canon.join(store_slice.select("fp"), "fp", "left_anti")
        else:
            fresh = canon
        fresh = fresh.cache()
        n_fresh = fresh.count()

        n_near_dup = 0
        if near_dup_threshold is not None and n_fresh:
            fresh, n_near_dup = _near_dup_filter(
                spark, base, fresh, near_dup_threshold, snap
            )

        n_substr_stripped = n_substr_dropped = 0
        accepted_wins = None
        if substr_window is not None and n_fresh - n_near_dup:
            (
                fresh,
                accepted_wins,
                n_substr_stripped,
                n_substr_dropped,
            ) = _substr_filter(
                spark, base, fresh, substr_window, min_tokens, snap
            )
        n_added = n_fresh - n_near_dup - n_substr_dropped
        counts = {
            "n_known": n_canon - n_fresh,
            "n_near_dup": n_near_dup,
            "n_added": n_added,
        }
        if substr_window is not None:
            counts["n_substr_stripped"] = n_substr_stripped
            counts["n_substr_dropped"] = n_substr_dropped

        if not n_added:
            fresh.unpersist()
            return counts, None
        # checkpoint so the band write below reuses the dedup result
        # instead of re-running the whole plan
        fresh = fresh.localCheckpoint()
        # repartition ON the partition column first: without it every
        # shuffle partition writes its own file into every bucket it
        # holds rows for (up to tasks x buckets files PER INGEST — the
        # small-files explosion scripts/store_bench.py measured as
        # linearly-growing round time); with it, one file per touched
        # bucket per ingest
        new_docs = stage.df(
            fresh.repartition("fp_bucket"), "corpus", partition_by="fp_bucket"
        )
        families = dict(snap["families"])
        families["docs"] = doc_rels + new_docs
        if near_dup_threshold is not None:
            new_bands = stage.df(
                _doc_bands(fresh).repartition("bh_bucket"),
                "bands", partition_by="bh_bucket",
            )
            if new_bands:
                families["bands"] = snap["families"].get("bands", []) + new_bands
        # whash sidecar publishes in the SAME swap as the docs it
        # mirrors — accepted text and its substring index can never
        # desync (the band-sidecar guarantee, extended)
        new_whashes = (
            _stage_whashes(accepted_wins, stage) if accepted_wins is not None else []
        )
        if new_whashes:
            families["whashes"] = snap["families"].get("whashes", []) + new_whashes
        fresh.unpersist()
        return counts, {
            "families": families,
            "meta": {"kind": "ingest"},
            "stats": _id_zones(base, new_docs + new_whashes),
        }

    counts = Mf.transact(base, attempt)
    prepared.unpersist()
    canon.unpersist()
    return {
        "n_in": n_in,
        "n_gated": n_gated_out,
        "n_batch_dup": n_batch_dup,
        **counts,
    }


def _near_dup_filter(
    spark: SparkSession,
    base: str,
    fresh: DataFrame,
    threshold: float,
    snapshot: dict | None = None,
) -> tuple[DataFrame, int]:
    """Exact-verified incremental near-dup: drop a fresh doc whose true
    3-gram jaccard reaches `threshold` against EITHER a stored doc
    sharing an LSH band bucket (the store always wins) or a lower-id
    doc of the same batch (the greedy q86/q88 rule).

    Stored candidates come from the band sidecar — only docs colliding
    with the batch's band hashes are re-read and re-shingled, so the
    verification cost is bounded by collisions, not store size. The
    candidate fetch is a semi join against the corpus (at 100 TB a
    doc_id-keyed projection would serve these point lookups; the fp
    layout serves the exact-dedup path, which runs every batch).

    Doc ids are re-keyed uid = 2·id (store) / 2·id+1 (batch) so one
    verified-LSH pass handles both directions; requires non-negative
    doc ids (the driver schema's convention)."""
    fresh_docs = fresh.select("doc_id", "text")
    fresh_bands = _doc_bands(fresh_docs).localCheckpoint()
    # bucket-pruned sidecar probe (round-6 item 6): only the band
    # buckets the batch's band hashes fall in are read
    probe_buckets = [
        r.bh_bucket
        for r in fresh_bands.select("bh_bucket").distinct().collect()
    ]
    m = snapshot if snapshot is not None else Mf.read(base)
    band_rels = _bucket_files(
        _sidecar_rels(m, "bands"), probe_buckets, "bh_bucket"
    )
    stored_bands = _read_band_files(spark, base, band_rels)
    cand_ids = (
        stored_bands.join(
            fresh_bands.select("band", "bhash").distinct(), ["band", "bhash"], "left_semi"
        )
        .select("doc_id")
        .distinct()
    )
    stored_cand = (
        read_corpus(spark, base, snapshot)
        .join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", "text")
    )
    u = stored_cand.select(_rekey("doc_id", 0).alias("uid"), "text").unionByName(
        fresh_docs.select(_rekey("doc_id", 1).alias("uid"), "text")
    )
    pairs = D.minhash_lsh_pairs(
        u, "uid", Tx.word_ngrams("text", 3),
        threshold=threshold, num_hashes=LSH_HASHES, bands=LSH_BANDS,
    )
    even_a = (F.col("id_a") % 2) == 0
    even_b = (F.col("id_b") % 2) == 0
    vs_stored = pairs.filter(even_a & ~even_b).select(F.col("id_b").alias("uid")).unionByName(
        pairs.filter(~even_a & even_b).select(F.col("id_a").alias("uid"))
    )
    in_batch = pairs.filter(~even_a & ~even_b).select(F.col("id_b").alias("uid"))
    drops = (
        vs_stored.unionByName(in_batch)
        .distinct()
        # integer DIV: float division misdecodes doc_id >= 2^53 (ADVICE r4)
        .select(F.expr("(uid - 1) DIV 2").alias("doc_id"))
    )
    kept = fresh.join(drops, "doc_id", "left_anti").cache()
    n_dropped = fresh.count() - kept.count()
    fresh.unpersist()  # caller rebinds to `kept`; drop the old cache
    return kept, n_dropped


def start_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    base: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    min_tokens: int = 20,
    max_dup_word_frac: float = 0.3,
    near_dup_threshold: float | None = None,
    substr_window: int | None = None,
):
    """Continuous crawl ingest: readStream over a documents parquet
    directory → foreachBatch(ingest). Source offsets checkpoint, so a
    restart resumes at the first unprocessed file; a micro-batch
    replayed after a crash re-runs the SAME idempotent ingest (its
    fingerprints are already stored → n_added 0) — the identical
    exactly-once recipe as the GBE ingest stream
    (streaming/pipeline.py::start_ingest_stream)."""
    raw = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(raw)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        ingest(spark, base, batch, min_tokens=min_tokens,
               max_dup_word_frac=max_dup_word_frac,
               near_dup_threshold=near_dup_threshold,
               substr_window=substr_window)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def delete_where(spark: SparkSession, base: str, predicate) -> int:
    """Targeted deletion (retention / right-to-be-forgotten sweep):
    remove every stored document matching `predicate` (a Column over
    CORPUS_SCHEMA) and return the count removed.

    Only fp_buckets that actually hold matching rows are rewritten
    (their surviving rows go to NEW files); the commit is one atomic
    manifest swap that drops the touched files and the deleted docs'
    band rows together — a reader mid-query keeps its snapshot, a
    reader arriving after the commit sees neither docs nor index rows
    (reader-atomic, the round-4 gap). Old files stay on disk until
    `manifest.vacuum`. Under three-valued logic rows where the
    predicate evaluates to NULL are KEPT (the coalesce(p, False)
    rule).

    Index consistency — the part naive deletes get wrong: the LSH band
    sidecar must forget the deleted docs too, otherwise future
    near-duplicates of removed content keep matching ghost band rows
    and are silently suppressed forever (pinned by
    test_corpus_store::test_delete_forgets_near_dup_index). Both
    sidecars rewrite only the files that can hold a doomed doc's rows.
    """
    hit = F.coalesce(predicate, F.lit(False))

    def attempt(snap, stage):
        doc_rels = snap["families"].get("docs", [])
        if not doc_rels:
            return 0, None
        band_rels = _sidecar_rels(snap, "bands")
        whash_rels = _sidecar_rels(snap, "whashes")
        table = _read_docs_files(spark, base, doc_rels)
        # localCheckpoint: the doomed set is re-used after the commit;
        # snapshot files are immutable until vacuum, but cutting the
        # lineage keeps the band rewrite from re-running the filter.
        doomed = table.filter(hit).select("doc_id", "fp", "fp_bucket").localCheckpoint()
        n_deleted = doomed.count()
        if not n_deleted:
            return 0, None
        buckets = [
            r.fp_bucket for r in doomed.select("fp_bucket").distinct().collect()
        ]
        touched_rels = _bucket_files(doc_rels, buckets, "fp_bucket")
        kept = _read_docs_files(spark, base, touched_rels).filter(~hit)
        new_docs = stage.df(
            kept.repartition("fp_bucket"), "corpus", partition_by="fp_bucket"
        )

        # sidecars rewrite ONLY their touched files (round-6 item 6):
        # the doomed docs' band rows name their bh_buckets, the doomed
        # doc_ids fall in whash files' doc_id zones; untouched files
        # keep their exact manifest entries.
        new_bands: list[str] = []
        touched_band_rels: list[str] = []
        if band_rels:
            all_bands = _read_band_files(spark, base, band_rels)
            doomed_buckets = [
                r.b
                for r in all_bands.join(
                    doomed.select("doc_id"), "doc_id", "left_semi"
                )
                .select(_band_bucket_col().alias("b"))
                .distinct()
                .collect()
            ]
            touched_band_rels = _bucket_files(
                band_rels, doomed_buckets, "bh_bucket"
            )
            if touched_band_rels:
                remaining = _read_band_files(
                    spark, base, touched_band_rels
                ).join(doomed.select("doc_id"), "doc_id", "left_anti")
                new_bands = stage.df(
                    remaining.withColumn("bh_bucket", _band_bucket_col())
                    .repartition("bh_bucket"),
                    "bands", partition_by="bh_bucket",
                )

        # the ExactSubstr sidecar forgets deleted docs in the SAME
        # swap — otherwise future batches sharing a long run with
        # removed content would keep getting stripped against ghosts
        # (pinned by test_delete_forgets_substr_index)
        new_whashes: list[str] = []
        touched_whash_rels: list[str] = []
        if whash_rels:
            doomed_ids = None
            if n_deleted <= DELETE_ID_COLLECT_MAX:
                doomed_ids = sorted(
                    r.doc_id for r in doomed.select("doc_id").distinct().collect()
                )
                lo, hi = doomed_ids[0], doomed_ids[-1]
            else:
                row = doomed.agg(
                    F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
                ).collect()[0]
                lo, hi = row.lo, row.hi
            touched_whash_rels = _whash_files_for_ids(
                snap, whash_rels, doomed_ids, lo, hi
            )
            if touched_whash_rels:
                remaining_w = _read_whash_files(
                    spark, base, touched_whash_rels
                ).join(doomed.select("doc_id"), "doc_id", "left_anti")
                new_whashes = _stage_whashes(remaining_w, stage)

        # change-feed rows for the removed docs, staged into the SAME
        # swap (round 6): a downstream consumer (index mirror, RTBF
        # audit) learns exactly which doc_ids vanished without diffing
        # snapshots — and exactly atomically with the vanishing
        new_cdc = stage.df(
            doomed.select(
                F.lit("delete").alias("op"),
                "doc_id",
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("string").alias("source"),
                "fp",
                F.lit(None).cast("long").alias("ntok"),
            ).coalesce(1),
            "cdc",
        )

        families = dict(snap["families"])
        families["docs"] = [r for r in doc_rels if r not in set(touched_rels)] + new_docs
        if band_rels:
            families["bands"] = [
                r for r in band_rels if r not in set(touched_band_rels)
            ] + new_bands
        if whash_rels:
            families["whashes"] = [
                r for r in whash_rels if r not in set(touched_whash_rels)
            ] + new_whashes
        families["cdc"] = snap["families"].get("cdc", []) + new_cdc
        return n_deleted, {
            "families": families,
            "meta": {"kind": "delete", "cdc": "log"},
            "stats": _id_zones(base, new_docs + new_whashes),
        }

    return Mf.transact(base, attempt)


def _rewrite(spark: SparkSession, stage, snap: dict, fams: list[str]) -> dict:
    """Stage the named families of `snap` rewritten whole in the
    current layout — docs one file per fp_bucket, bands one per
    bh_bucket, whashes one per wr range — and return the commit that
    publishes them (families + their doc_id zones). Shared by
    `compact` and `migrate`."""
    base = stage.base
    families = dict(snap["families"])
    if "docs" in fams:
        families["docs"] = stage.df(
            _read_docs_files(spark, base, snap["families"].get("docs", []))
            .repartition("fp_bucket"),
            "corpus", partition_by="fp_bucket",
        )
    if "bands" in fams:
        families["bands"] = stage.df(
            _read_band_files(spark, base, snap["families"].get("bands", []))
            .withColumn("bh_bucket", _band_bucket_col())
            .repartition("bh_bucket"),
            "bands", partition_by="bh_bucket",
        )
    if "whashes" in fams:
        whashes = _read_whash_files(
            spark, base, snap["families"].get("whashes", [])
        )
        families["whashes"] = _stage_whashes(whashes, stage)
    zoned = [r for f in fams if f != "bands" for r in families[f]]
    return {"families": families, "stats": _id_zones(base, zoned)}


def compact(spark: SparkSession, base: str, files_per_bucket: int = 1) -> int:
    """Maintenance compaction: rewrite the corpus so each fp_bucket
    holds `files_per_bucket` files, and the band sidecar a handful —
    every ingest adds one file per touched bucket, so after R rounds a
    bucket holds R files and BOTH the manifest and every snapshot read
    grow linearly with history (scripts/store_bench.py measures the
    drift). One staged rewrite + one manifest swap; readers holding
    the old snapshot are untouched; old files wait for vacuum.
    Returns the number of files retired. The GBE store's
    parquet.compact_table, restated over the manifest layout."""
    from collections import Counter

    def _fragmented(rels: list[str], tag: str) -> bool:
        per = Counter(
            r.split(f"{tag}=")[1].split(os.sep)[0] for r in rels if f"{tag}=" in r
        )
        return any(c > files_per_bucket for c in per.values())

    def attempt(snap, stage):
        rels = {
            "docs": snap["families"].get("docs", []),
            "bands": _sidecar_rels(snap, "bands"),
            "whashes": _sidecar_rels(snap, "whashes"),
        }
        if not (
            _fragmented(rels["docs"], "fp_bucket")
            or _fragmented(rels["bands"], "bh_bucket")
            or _fragmented(rels["whashes"], "wr")
        ):
            return 0, None
        fams = ["docs"] + [f for f in ("bands", "whashes") if rels[f]]
        change = _rewrite(spark, stage, snap, fams)
        change["meta"] = {"kind": "compact", "data_change": False}
        return sum(len(v) for v in rels.values()), change

    return Mf.transact(base, attempt)


def migrate(base: str) -> int:
    """Bring a store an earlier round wrote to the current shape.
    First adopt every unlisted parquet file under corpus/, bands/ and
    whashes/ into the next manifest version (a store written before
    the manifest log, `manifest.adopt`). Then rewrite every sidecar
    family holding a file outside its current partition directory —
    pre-bucketed band files, `doc_bucket=` whash files — through
    `compact`'s rewrite into the `bh_bucket=` and `wr=` layouts, in
    one data_change=false commit on the active Spark session.
    Idempotent: a current store commits nothing. Returns the number of
    files adopted plus the number rewritten."""
    n = Mf.adopt(base, _DATA_DIRS)

    def attempt(snap, stage):
        old = [
            fam
            for fam, tag in _SIDECAR_TAGS.items()
            if any(f"{tag}=" not in r for r in snap["families"].get(fam, []))
        ]
        if not old:
            return n, None
        change = _rewrite(SparkSession.active(), stage, snap, old)
        change["meta"] = {"kind": "migrate", "data_change": False}
        return n + sum(len(snap["families"][f]) for f in old), change

    return Mf.transact(base, attempt)


def substr_sweep(
    spark: SparkSession, base: str, window: int = 50, min_tokens: int = 20
) -> dict:
    """Batch-global ExactSubstr maintenance pass (the "daily q95 run"
    the incremental tier's docstring names): run the full
    operators/substrings pipeline over EVERY accepted document — the
    globally-first occurrence of each >=`window`-token run survives,
    later occurrences are stripped — then republish the affected
    fp_buckets AND a freshly rebuilt whash sidecar in one manifest
    swap. Complements `ingest(substr_window=...)`: the sweep catches
    duplication that predates enabling the tier, runs accumulated
    across already-accepted docs, and any drift after deletes.

    Semantics per stripped doc mirror the ingest tier: below the
    token floor after stripping -> deleted; cleaned text fingerprint
    colliding with a surviving doc -> deleted (min doc_id keeps);
    otherwise the doc is rewritten in place with new fp/ntok/bucket.
    Idempotent: a second sweep at the same window strips nothing.
    Returns {n_stripped, n_deleted}."""
    from block_explorer_spark.operators import substrings as Sub

    def attempt(snap, stage):
        doc_rels = snap["families"].get("docs", [])
        if not doc_rels:
            return {"n_stripped": 0, "n_deleted": 0}, None
        table = _read_docs_files(spark, base, doc_rels)
        stripped = Sub.exact_substring_dedup(
            table, "doc_id", "text", window
        ).localCheckpoint()
        n_stripped = stripped.count()
        if not n_stripped:
            return {"n_stripped": 0, "n_deleted": 0}, None

        rebuilt = _prepared(
            table.select("doc_id", "lang", "source")
            .join(
                stripped.select(
                    "doc_id", F.col("cleaned_text").alias("text")
                ),
                "doc_id",
            )
            .select("doc_id", "text", "lang", "source")
        ).localCheckpoint()
        survivors = rebuilt.filter(F.col("ntok") >= min_tokens)
        untouched = table.join(stripped.select("doc_id"), "doc_id", "left_anti")
        # post-strip fp dedup across the whole resulting corpus:
        # untouched docs always win; among rebuilt, min doc_id wins
        survivors = survivors.join(
            untouched.select("fp"), "fp", "left_anti"
        )
        w = survivors.groupBy(F.col("fp").alias("w_fp")).agg(
            F.min("doc_id").alias("keep_id")
        )
        survivors = survivors.join(
            w,
            (survivors.fp == w.w_fp) & (survivors.doc_id == w.keep_id),
            "left_semi",
        ).localCheckpoint()
        n_deleted = n_stripped - survivors.count()
        final = untouched.unionByName(survivors).localCheckpoint()

        # republish: touched buckets = every bucket holding a stripped
        # doc's OLD row or a survivor's NEW row; untouched bucket
        # files keep their manifest entries
        moved = [
            r.fp_bucket
            for r in table.join(stripped.select("doc_id"), "doc_id", "left_semi")
            .select("fp_bucket")
            .union(survivors.select("fp_bucket"))
            .distinct()
            .collect()
        ]
        touched_rels = _bucket_files(doc_rels, moved, "fp_bucket")
        keep_docs = final.join(
            _read_docs_files(spark, base, touched_rels).select("doc_id"),
            "doc_id",
            "left_semi",
        ).filter(F.col("fp_bucket").isin(moved))
        new_docs = stage.df(
            keep_docs.repartition("fp_bucket"), "corpus", partition_by="fp_bucket"
        )
        families = dict(snap["families"])
        families["docs"] = [
            r for r in doc_rels if r not in set(touched_rels)
        ] + new_docs

        new_whashes: list[str] = []
        if snap["families"].get("whashes") is not None and (
            snap["families"].get("whashes") or n_stripped
        ):
            new_whashes = _stage_whashes(_doc_whashes(final, window), stage)
            families["whashes"] = new_whashes
        if snap["families"].get("bands"):
            families["bands"] = stage.df(
                _doc_bands(final).repartition("bh_bucket"),
                "bands", partition_by="bh_bucket",
            )

        # change feed (round 6): survivors whose text was rewritten are
        # 'update' rows (full new document), stripped docs that fell
        # under the floor or collapsed into an existing fp are
        # 'delete' rows — staged in the sweep's own swap
        doc_cols = [f.name for f in CORPUS_SCHEMA.fields]
        updates = survivors.select(
            F.lit("update").alias("op"), *doc_cols
        )
        deleted_rows = (
            table.join(stripped.select("doc_id"), "doc_id", "left_semi")
            .join(survivors.select("doc_id"), "doc_id", "left_anti")
            .select(
                F.lit("delete").alias("op"),
                "doc_id",
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("string").alias("source"),
                "fp",
                F.lit(None).cast("long").alias("ntok"),
            )
        )
        new_cdc = stage.df(updates.unionByName(deleted_rows).coalesce(1), "cdc")
        families["cdc"] = snap["families"].get("cdc", []) + new_cdc
        return {"n_stripped": n_stripped - n_deleted, "n_deleted": n_deleted}, {
            "families": families,
            "meta": {"kind": "sweep", "cdc": "log"},
            "stats": _id_zones(base, new_docs + new_whashes),
        }

    return Mf.transact(base, attempt)


def canonicalize(spark: SparkSession, base: str) -> int:
    """Re-canonicalization sweep: enforce one-doc-per-fingerprint
    (min doc_id wins) across the whole store, returning the number of
    rows removed.

    WHY IT EXISTS (round 5): racing ingests now serialize through the
    manifest CAS, so a healthy store can no longer acquire duplicate
    fingerprints. The sweep remains as defense-in-depth — repair for
    stores whose MANIFESTED data was corrupted out-of-band (a writer
    bypassing ingest) — and as the invariant check tests pin. It reads
    via the manifest, so it canNOT see pre-manifest data; such a
    store must run `migrate(base)` first (round-5 ADVICE). Only buckets that actually
    contain duplicate fingerprints are rewritten; the band sidecar
    keeps the surviving doc's rows and drops the losers'.
    """
    snap = Mf.read(base)
    if not snap["families"].get("docs"):
        return 0
    table = _read_docs_files(spark, base, snap["families"]["docs"])
    losers = (
        table.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"), F.min("doc_id").alias("__keep"))
        .filter(F.col("__n") > 1)
        .select("fp", "__keep")
    )
    doomed = (
        table.join(losers, "fp")
        .filter(F.col("doc_id") != F.col("__keep"))
        .select("doc_id", "fp_bucket")
        .localCheckpoint()
    )
    n = doomed.count()
    if not n:
        return 0
    ids = [r.doc_id for r in doomed.select("doc_id").distinct().collect()]
    return delete_where(spark, base, F.col("doc_id").isin(ids))
