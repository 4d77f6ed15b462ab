"""Mini transaction log for parquet-backed stores (parquet's
relational tables, corpus_store, vector_store, the postings index and
z-order families): optimistic-concurrency manifest commits.

The reference gets transactional writes from Postgres
(`etl/storage/storage.go:28-82`); plain parquet directories have no
such log. This module supplies one with the standard lakehouse recipe
(the Delta/Iceberg core, reduced to its minimum):

  - data files are IMMUTABLE and uniquely named; writers stage them
    into the data directory but nothing reads a file that is not
    listed in a committed manifest;
  - a manifest is one JSON file `_manifest/v{N}.json` listing every
    live file per family (docs + their index sidecars commit in ONE
    swap, so they can never desync);
  - commit is compare-and-swap: the writer names the version it read
    (`expect_version`); the manifest is written to a temp file and
    `os.link`ed to its final name — link(2) fails atomically if the
    version already exists, so exactly one of two racing writers wins;
  - deletes never remove files inline: a new manifest simply stops
    listing them, so a reader holding the old manifest keeps a
    consistent snapshot; `vacuum` physically removes unreferenced
    files later.

Every writer in the package commits through ONE protocol, `transact`
(only `adopt`'s one-shot migration commit is its own):

  - the write holds a write intent (the vacuum lease) throughout;
  - each attempt reads the latest snapshot, plans ONLY from it, and
    stages every file through the `Staging` recorder it is handed, so
    the helper knows each staged relpath by name;
  - the commit names that snapshot's version. On CommitConflict the
    attempt's files are discarded and it replans against the winner's
    snapshot — no retry bound, because each loss means another writer
    made progress. Grafting staged files onto a newer manifest instead
    would be wrong for any plan read from the snapshot (two racing
    tail merges would both publish the same rows);
  - an exception before the CAS discards the attempt's files and
    propagates; an exception raised inside `commit` (other than the
    conflict) leaves them in place — the link may already have
    published them, and vacuum reclaims them if it did not.

Two read-side services ride on the log:

  - FILE STATISTICS (zone maps): `commit` accepts per-file column
    min/max (`file_stats` lifts them straight out of the parquet
    footers — no data read) and carries them forward version to
    version, so `prune_by_stats` can drop files a range predicate
    cannot match BEFORE Spark ever lists them. At 100 TB this is the
    Iceberg/Delta data-skipping story: a point lookup in a bucket
    holding 8k micro-batch files opens the one file whose [min,max]
    covers the key.
  - TIME TRAVEL + CHANGES (CDC): every version is an immutable JSON
    file, so `read_at(version)` is a snapshot read of history and
    `added_files(since, until)` diffs consecutive manifests into the
    exact per-commit file additions — the primitive an incremental
    consumer (tokenize only the new docs) builds on. Retention is
    explicit: `vacuum(keep_last=K)` bounds how far back both go.

On a shared filesystem (HDFS/NFS/local) link/rename are atomic; on
object stores the same protocol runs against a conditional-PUT
(if-none-match) — the commit primitive is the only thing to swap.
"""
from __future__ import annotations

import json
import os
import uuid

from block_explorer_spark import placement


class CommitConflict(Exception):
    """Another writer committed the version this writer expected to
    create (`transact` replans on it)."""


_MANIFEST_DIR = "_manifest"

#: Meta namespaces that describe PERSISTENT store state (a committed
#: layout or index configuration) rather than one commit's event info
#: ("kind", "cdc", "data_change"). `commit` carries these forward from
#: the previous version whenever the new meta does not itself set
#: them — so an upsert's meta={"kind": "upsert"} can never silently
#: destroy the z-order layout or the BM25 corpus totals another
#: writer committed into the same base.
PERSISTENT_META_KEYS = ("zorder", "bm25", "layout", "sketch")


def _mdir(base: str) -> str:
    return os.path.join(base, _MANIFEST_DIR)


def _vpath(base: str, version: int) -> str:
    return os.path.join(_mdir(base), f"v{version:012d}.json")


def current_version(base: str) -> int:
    """Highest committed version, 0 if the store has none."""
    try:
        names = os.listdir(_mdir(base))
    except FileNotFoundError:
        return 0
    versions = [
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    ]
    return max(versions, default=0)


def read(base: str) -> dict:
    """The latest committed manifest:
    {"version": N, "families": {name: [relpath, ...]}, "meta": {...},
    "stats": {relpath: {col: [min, max]}}}.
    Version 0 (nothing committed) has empty families.

    Retries on FileNotFoundError: between listing versions and opening
    v{N}.json, a concurrent commit followed by vacuum(keep_last=1) can
    delete version N — re-resolve the latest version and try again
    (bounded; an unreadable store after retries is a real error)."""
    for _ in range(8):
        v = current_version(base)
        if v == 0:
            return {"version": 0, "families": {}, "meta": {}, "stats": {}}
        try:
            with open(_vpath(base, v)) as f:
                m = json.load(f)
        except FileNotFoundError:
            continue  # vacuumed under us; newest version moved on
        m["version"] = v
        m.setdefault("stats", {})
        return m
    raise FileNotFoundError(
        f"manifest versions under {base} kept disappearing mid-read; "
        "vacuum keep_last is racing readers too aggressively"
    )


def versions(base: str) -> list[int]:
    """Committed manifest versions still on disk (ascending). The
    window `vacuum(keep_last=K)` has not yet retired — the range
    `read_at` and `added_files` can serve."""
    try:
        names = os.listdir(_mdir(base))
    except FileNotFoundError:
        return []
    return sorted(
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    )


def read_at(base: str, version: int) -> dict:
    """Snapshot read of a SPECIFIC committed version (time travel).
    Version 0 is the empty store. Raises FileNotFoundError with the
    retention explanation when the version has been vacuumed — callers
    that walk history (CDC) must fail loudly rather than silently skip
    a gap."""
    if version == 0:
        return {"version": 0, "families": {}, "meta": {}, "stats": {}}
    try:
        with open(_vpath(base, version)) as f:
            m = json.load(f)
    except FileNotFoundError:
        avail = versions(base)
        raise FileNotFoundError(
            f"manifest version {version} at {base} is gone "
            f"(available: {avail[:1]}..{avail[-1:]}); vacuum(keep_last) "
            "bounds time-travel/CDC retention — raise keep_last or "
            "checkpoint consumers more often"
        ) from None
    m["version"] = version
    m.setdefault("stats", {})
    return m


def live_files(base: str, family: str, manifest: dict | None = None) -> list[str]:
    """Absolute paths of the family's live files under the latest (or
    given) manifest, sorted for deterministic plans."""
    m = manifest if manifest is not None else read(base)
    return sorted(os.path.join(base, rel) for rel in m["families"].get(family, []))


def commit(
    base: str,
    families: dict[str, list[str]],
    expect_version: int,
    meta: dict | None = None,
    stats: dict | None = None,
) -> int:
    """Atomically publish `families` (relpaths, the COMPLETE live set)
    as version expect_version + 1. Raises CommitConflict if any other
    writer committed first.

    `stats` maps NEWLY staged relpaths to per-column [min, max] (see
    `file_stats`); stats for files the previous version already listed
    carry forward automatically, and stats for files no longer listed
    anywhere are dropped — the zone map can never outlive or lag its
    file."""
    os.makedirs(_mdir(base), exist_ok=True)
    new_version = expect_version + 1
    listed = {rel for rels in families.values() for rel in rels}
    carried: dict = {}
    prev_meta: dict = {}
    if expect_version > 0:
        try:
            with open(_vpath(base, expect_version)) as f:
                prev = json.load(f)
            carried = prev.get("stats", {})
            prev_meta = prev.get("meta", {})
        except FileNotFoundError:
            carried = {}  # pre-stats store or vacuumed: no carry
    merged_stats = {
        rel: s for rel, s in {**carried, **(stats or {})}.items() if rel in listed
    }
    merged_meta = dict(meta or {})
    for k in PERSISTENT_META_KEYS:
        if k not in merged_meta and k in prev_meta:
            merged_meta[k] = prev_meta[k]
    body = {"families": {k: sorted(v) for k, v in families.items()},
            "meta": merged_meta, "stats": merged_stats}
    tmp = os.path.join(_mdir(base), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(body, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _vpath(base, new_version))  # atomic CAS
        won = True
    except OSError as e:
        # NFS retransmit quirk: link(2) can report failure even though
        # the link WAS created (the reply to a retried request hits the
        # now-existing target). Raising CommitConflict then would make
        # the winner discard its own staged files while the committed
        # manifest references them. Verify before deciding: if our temp
        # file now has link count >= 2, the link is ours and the commit
        # succeeded.
        try:
            won = os.stat(tmp).st_nlink >= 2
        except OSError:
            won = False
        if not won:
            os.unlink(tmp)
            raise CommitConflict(
                f"version {new_version} already committed"
            ) from e
    try:
        os.unlink(tmp)
    except FileNotFoundError:
        pass
    return new_version


def stage_move(staging_dir: str, data_dir: str) -> list[str]:
    """Move every data file written under `staging_dir` (preserving
    partition subdirectories) into `data_dir` under a fresh unique
    name. Returns relpaths RELATIVE TO data_dir's parent store layout,
    i.e. '<data_dir_name>/<partition...>/<file>'. The moved files are
    invisible until a manifest lists them."""
    out: list[str] = []
    data_name = os.path.basename(data_dir.rstrip(os.sep))
    for root, _dirs, files in os.walk(staging_dir):
        rel_dir = os.path.relpath(root, staging_dir)
        for fn in files:
            if fn.startswith(("_", ".")):  # _SUCCESS, checksums
                continue
            target_dir = (
                data_dir if rel_dir == "." else os.path.join(data_dir, rel_dir)
            )
            os.makedirs(target_dir, exist_ok=True)
            unique = f"part-{uuid.uuid4().hex}.parquet"
            os.rename(os.path.join(root, fn), os.path.join(target_dir, unique))
            rel = (
                os.path.join(data_name, unique)
                if rel_dir == "."
                else os.path.join(data_name, rel_dir, unique)
            )
            out.append(rel)
    return out


def _stage_df_driver(
    df, base: str, data_name: str, partition_by: str | None
) -> list[str] | None:
    """Driver-side staging of a frame the bounded probe collects
    (placement.collect_bounded): a store's micro-commit delta is
    KB-scale, but a Spark parquet write job costs a fixed ~0.3-0.9 s
    whatever the size. Same directory layout, same invisibility until
    commit, same zone maps. None → the caller takes the Spark write
    path (too big, a type Arrow cannot carry, or non-integer partition
    values, which need Hive path escaping). Writes one file per
    (upstream Spark partition, partition_by value) — the SAME file
    granularity as the cluster write — so range-clustered multi-file
    layouts (postings/zorder/obj_key slicing) keep their per-file
    disjoint zones and the read-side skipping they exist for.
    spark_partition_id() rides the collected rows to recover the
    boundaries."""
    from pyspark.errors import PySparkTypeError
    from pyspark.sql import functions as F

    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    pid = "__stage_pid"
    try:
        tbl = placement.collect_bounded(df.withColumn(pid, F.spark_partition_id()))
    except PySparkTypeError:
        return None  # a type with no Arrow conversion: cluster path
    if tbl is None:
        return None
    if tbl.num_rows == 0 and partition_by:
        return []  # partitioned Spark write of an empty frame: no files
    # (an empty UNpartitioned frame still writes one empty file below,
    # matching the Spark path's one-empty-part output)
    out: list[str] = []
    droot = os.path.join(base, data_name)
    if not partition_by:
        for p in sorted(set(tbl.column(pid).to_pylist())) or [0]:
            sub = (
                tbl.filter(pc.equal(tbl.column(pid), p)).drop_columns([pid])
                if tbl.num_rows
                else tbl.drop_columns([pid])
            )
            os.makedirs(droot, exist_ok=True)
            fn = f"part-{uuid.uuid4().hex}.parquet"
            papq.write_table(sub, os.path.join(droot, fn), compression="snappy")
            out.append(os.path.join(data_name, fn))
        return out
    vals = tbl.column(partition_by).to_pylist()
    if not all(isinstance(v, int) and not isinstance(v, bool) for v in set(vals)):
        return None  # None/string partition values: Hive escaping — cluster path
    pairs = sorted(set(zip(tbl.column(pid).to_pylist(), vals)))
    for p, v in pairs:
        sub = tbl.filter(
            pc.and_(
                pc.equal(tbl.column(pid), p), pc.equal(tbl.column(partition_by), v)
            )
        ).drop_columns([pid, partition_by])
        d = os.path.join(droot, f"{partition_by}={v}")
        os.makedirs(d, exist_ok=True)
        fn = f"part-{uuid.uuid4().hex}.parquet"
        papq.write_table(sub, os.path.join(d, fn), compression="snappy")
        out.append(os.path.join(data_name, f"{partition_by}={v}", fn))
    return out


def stage_df(
    df,
    base: str,
    data_name: str,
    partition_by: str | None = None,
    n_rows: int | None = None,
) -> list[str]:
    """Write a DataFrame to a staging dir, move its files (uniquely
    renamed, partition subdirs preserved) into base/data_name, return
    their manifest relpaths. Invisible until a commit lists them.
    KB-scale frames stage driver-side (see _stage_df_driver); a caller
    that already knows the frame's row count passes `n_rows`, and a
    count over the gate skips the driver probe (a LIMIT collect that
    could only come back too big) and writes through Spark directly."""
    import shutil

    if placement.admits(n_rows):
        rels = _stage_df_driver(df, base, data_name, partition_by)
        if rels is not None:
            return rels
    staging = os.path.join(base, f".staging-{uuid.uuid4().hex}")
    try:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(staging)
        return stage_move(staging, os.path.join(base, data_name))
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def file_stats(
    base: str, rels: list[str], cols: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for the named TOP-LEVEL columns, lifted from
    the parquet footers (row-group statistics — zero data pages read;
    the same bytes a FileSourceScan's footer fetch already pays for).
    Only JSON-portable leaf types are recorded (int / float / string);
    a column with any row group missing min/max (all-null page, stats
    disabled) is skipped for that file — pruning then keeps the file,
    which is the conservative direction."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in rels:
        try:
            md = pq.ParquetFile(os.path.join(base, rel)).metadata
        except (OSError, ValueError):  # pyarrow's ArrowInvalid is a ValueError
            continue  # unreadable footer: no stats, file stays unprunable
        idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        per: dict[str, list] = {}
        for col in cols:
            ci = idx.get(col)
            if ci is None:
                continue
            lo = hi = None
            usable = md.num_row_groups > 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    usable = False
                    break
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        usable = False
                        break
                if not isinstance(mn, (int, float, str)) or isinstance(mn, bool):
                    usable = False
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if usable and lo is not None:
                per[col] = [lo, hi]
        if per:
            out[rel] = per
    return out


def prune_by_stats(
    manifest: dict, family: str, col: str, lo=None, hi=None,
    rels: list[str] | None = None,
) -> list[str]:
    """The family's relpaths whose [min, max] zone for `col` intersects
    [lo, hi] — files with no recorded zone for `col` are KEPT:
    `file_stats` records none for an unreadable footer, a row group
    without min/max (all-null pages, stats disabled) or a type JSON
    cannot carry, and `adopt` commits files without stats, so skipping
    them could drop matching rows. This is
    the manifest-side half of data skipping; the surviving list feeds
    the same file-list read every store already uses, so Spark never
    opens — or even LISTs — a pruned file."""
    stats = manifest.get("stats", {})
    out = []
    for rel in (rels if rels is not None else manifest["families"].get(family, [])):
        zone = stats.get(rel, {}).get(col)
        if zone is not None:
            if lo is not None and zone[1] < lo:
                continue
            if hi is not None and zone[0] > hi:
                continue
        out.append(rel)
    return out


def added_files(
    base: str,
    family: str | None = None,
    since_version: int = 0,
    until_version: int | None = None,
) -> list[dict]:
    """Per-commit file additions between two versions — the CDC
    primitive. Returns one entry per version in (since, until]:
    {"version": v, "meta": {...}, "added": {family: [relpath, ...]}}
    (families with no additions are omitted; `family` filters to one).
    Walks consecutive manifests, so every version in the range must
    still exist — `read_at` raises the retention error when vacuum
    already retired one, and consumers must treat that as "resync from
    a full snapshot", never as "no changes"."""
    until = until_version if until_version is not None else current_version(base)
    if since_version >= until:
        return []
    prev = read_at(base, since_version)
    out = []
    for v in range(since_version + 1, until + 1):
        cur = read_at(base, v)
        fams = (
            [family]
            if family is not None
            else sorted(set(cur["families"]) | set(prev["families"]))
        )
        added: dict[str, list[str]] = {}
        for fam in fams:
            before = set(prev["families"].get(fam, []))
            new = [r for r in cur["families"].get(fam, []) if r not in before]
            if new:
                added[fam] = new
        out.append({"version": v, "meta": cur.get("meta", {}), "added": added})
        prev = cur
    return out


def unmanifested_files(base: str, data_dir_names: list[str]) -> dict[str, list[str]]:
    """Parquet relpaths sitting under the named data directories that
    no committed manifest lists — evidence of a store written before
    the manifest log existed (or out-of-band).

    Files a concurrent protocol writer STAGED but has not committed
    are EXCLUDED: adopting one steals it from that writer's commit —
    when the writer then loses its CAS and discards the file, the
    adopter's manifest points at a deleted file (reader FileNotFound;
    found by test_multiwriter's contention loop). Detection: scan the
    data dirs FIRST, read the active write intents AFTER, and drop
    any candidate modified at/after the oldest active intent's start.
    A writer always registers its intent before staging (`transact`
    holds it), so any staged file an earlier scan could see comes
    from an intent the later listing must show; genuinely-legacy and
    out-of-band files predate every live intent and still adopt."""
    listed: set[str] = set()
    try:
        names = os.listdir(_mdir(base))
    except FileNotFoundError:
        names = []
    for name in names:
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(_mdir(base), name)) as f:
                for rels in json.load(f)["families"].values():
                    listed.update(rels)
    out: dict[str, list[str]] = {}
    for d in data_dir_names:
        droot = os.path.join(base, d)
        if not os.path.isdir(droot):
            continue
        found = []
        for root, _dirs, files in os.walk(droot):
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, base)
                if rel in listed:
                    continue
                try:
                    found.append((rel, os.stat(full).st_mtime))
                except FileNotFoundError:
                    continue  # discarded under our feet
        if found:
            out[d] = found
    # intents read AFTER the scan: an in-flight writer's staged file
    # visible to the scan implies its intent is visible now
    cutoff = _oldest_inflight_start(base)
    final: dict[str, list[str]] = {}
    for d, pairs in out.items():
        keep = sorted(
            rel for rel, mt in pairs if cutoff is None or mt < cutoff
        )
        if keep:
            final[d] = keep
    return final


def adopt(base: str, families_by_dir: dict[str, str]) -> int:
    """One-shot migration for stores written BEFORE the manifest log
    existed: commit every pre-existing parquet file under each data
    directory into the next manifest version, under the given family
    name (`families_by_dir` maps family -> data directory name).
    Idempotent: files already listed in a manifest are skipped, and a
    call finding nothing to adopt commits nothing. Returns the number
    of files adopted. Files staged by in-flight protocol writers are
    never swept in (see unmanifested_files)."""
    snap = read(base)
    orphans = unmanifested_files(
        base, sorted(set(families_by_dir.values()))
    )
    if not orphans:
        return 0
    families = {k: list(v) for k, v in snap["families"].items()}
    n = 0
    for family, dirname in families_by_dir.items():
        extra = orphans.get(dirname, [])
        if extra:
            families[family] = families.get(family, []) + extra
            n += len(extra)
    if not n:
        return 0
    commit(base, families, expect_version=snap["version"],
           meta={"adopted": n})
    return n


def require_migrated(
    base: str, data_dir_names: list[str], migrate: str, version: int | None = None
) -> None:
    """The one pre-manifest rule every store follows: the manifest is
    a store's only file listing, so a store at version 0 is empty.
    Parquet files under its data directories that no manifest lists
    predate the log (or were written out of band): a read would answer
    "empty" and a first commit would hide them for good, so this raises
    RuntimeError naming the store's `migrate` call, which adopts them
    once (`adopt`). `version` is the caller's snapshot version (default:
    the latest); at any other version this returns at once.

    Reads call it with their snapshot's version; writers call it before
    they register their write intent. While a registered writer is in
    flight the directories hold its staged files, and the store is
    empty under the protocol, not pre-manifest."""
    if version is None:
        version = current_version(base)
    if version != 0 or _oldest_inflight_start(base) is not None:
        return
    orphans = unmanifested_files(base, data_dir_names)
    # re-check the version: a writer that committed and ended its
    # intent during the scan leaves listed files, not pre-manifest ones
    if orphans and current_version(base) == 0:
        raise RuntimeError(
            f"store at {base} has "
            f"{sum(len(v) for v in orphans.values())} data files but no "
            f"committed manifest (written before the manifest log?). Run "
            f"{migrate}(base) once to adopt them, or move them aside."
        )


def discard(base: str, relpaths: list[str]) -> None:
    """Remove staged-but-uncommitted files (`transact`'s cleanup of an
    attempt that lost its CAS, raised before it, or had nothing to
    commit). Only ever called on files that attempt staged, so no
    reader can hold them."""
    for rel in relpaths:
        try:
            os.unlink(os.path.join(base, rel))
        except FileNotFoundError:
            pass


_INFLIGHT_TTL_S = 3600.0


def begin_write(base: str) -> str:
    """Register an in-flight write BEFORE staging any file. Returns a
    token; `end_write` (or the `write_intent` context manager) removes
    it after commit/discard. While the marker exists, `vacuum` will
    not delete any file modified after the marker's start time, so a
    slow stage-then-commit survives a concurrent vacuum regardless of
    `min_age_s`. Markers older than `_INFLIGHT_TTL_S` are treated as
    crashed writers and ignored (their staged files become ordinary
    vacuum-able orphans)."""
    import time

    os.makedirs(_mdir(base), exist_ok=True)
    token = f".inflight-{uuid.uuid4().hex}"
    path = os.path.join(_mdir(base), token)
    with open(path, "w") as f:
        json.dump({"start": time.time()}, f)
        f.flush()
        os.fsync(f.fileno())
    return token


def end_write(base: str, token: str) -> None:
    try:
        os.unlink(os.path.join(_mdir(base), token))
    except FileNotFoundError:
        pass


class write_intent:
    """Context manager pairing begin_write/end_write around a
    stage + commit sequence."""

    def __init__(self, base: str):
        self.base = base

    def __enter__(self):
        self.token = begin_write(self.base)
        return self.token

    def __exit__(self, *exc):
        end_write(self.base, self.token)
        return False



class Staging:
    """The recorder one `transact` attempt stages its files through:
    every relpath it hands out or stages is recorded in `rels`, so the
    helper can discard exactly the attempt's files. Safe to share
    between staging threads (list appends are atomic)."""

    def __init__(self, base: str):
        self.base = base
        self.rels: list[str] = []

    def df(
        self, df, data_name: str, partition_by: str | None = None,
        n_rows: int | None = None,
    ) -> list[str]:
        """`stage_df` into this attempt."""
        rels = stage_df(df, self.base, data_name, partition_by, n_rows)
        self.rels.extend(rels)
        return rels

    def file(self, *dirs: str) -> str:
        """A fresh parquet relpath under base/dirs for a file the
        caller writes itself (driver-side staging). Recorded BEFORE the
        write, so a write that fails half-way is discarded too."""
        os.makedirs(os.path.join(self.base, *dirs), exist_ok=True)
        rel = os.path.join(*dirs, f"part-{uuid.uuid4().hex}.parquet")
        self.rels.append(rel)
        return rel


def transact(base: str, attempt):
    """Run one write transaction on the store at `base` (the protocol
    of the module docstring) and return the attempt's result.

    `attempt(snap, stage)` plans from the snapshot `snap` only, stages
    through `stage` (a `Staging`), and returns `(result, change)`:
    `change` is the keywords of the `commit` to publish — `families`,
    and optionally `meta` and `stats` — or None when there is nothing
    to commit (any files it staged are then discarded)."""
    with write_intent(base):
        while True:
            snap = read(base)
            stage = Staging(base)
            try:
                result, change = attempt(snap, stage)
            except BaseException:
                discard(base, stage.rels)
                raise
            if change is None:
                discard(base, stage.rels)
                return result
            try:
                commit(base, expect_version=snap["version"], **change)
            except CommitConflict:
                discard(base, stage.rels)
                continue
            return result


def _oldest_inflight_start(base: str) -> float | None:
    """Start time of the oldest LIVE in-flight writer, None if none.
    Markers past the TTL are crashed writers: removed and ignored."""
    import time

    try:
        names = os.listdir(_mdir(base))
    except FileNotFoundError:
        return None
    now = time.time()
    oldest = None
    for name in names:
        if not name.startswith(".inflight-"):
            continue
        path = os.path.join(_mdir(base), name)
        try:
            with open(path) as f:
                start = float(json.load(f)["start"])
        except (OSError, ValueError, KeyError):
            continue
        if now - start > _INFLIGHT_TTL_S:
            try:
                os.unlink(path)  # crashed writer; lease expired
            except FileNotFoundError:
                pass
            continue
        oldest = start if oldest is None else min(oldest, start)
    return oldest


def vacuum(base: str, keep_last: int = 1, min_age_s: float = 300.0) -> int:
    """Physically delete files referenced by NO manifest among the
    latest `keep_last` versions, plus older manifest versions
    themselves. Returns the number of data files removed.

    Two concurrency guards, both on by default:

    - in-flight tracking (precise): writers that registered via
      `begin_write`/`write_intent` are leases — no file modified
      after the oldest live writer's start time is deleted, however
      small `min_age_s` is. Leases expire after `_INFLIGHT_TTL_S`
      (crashed writer).
    - `min_age_s` (heuristic backstop, default 300 s): files modified
      within the window are skipped even with no registered writer —
      covers writers that bypass `write_intent` and readers holding a
      recent snapshot when keep_last=1. Tests that fabricate orphans
      pass min_age_s=0 explicitly; 0 relies solely on the tracked
      in-flight window."""
    v = current_version(base)
    if v == 0:
        return 0
    live: set[str] = set()
    kept_versions = range(max(1, v - keep_last + 1), v + 1)
    for kv in kept_versions:
        try:
            with open(_vpath(base, kv)) as f:
                m = json.load(f)
        except FileNotFoundError:
            continue
        for rels in m["families"].values():
            live.update(rels)
    # referenced data directories = first path component of any
    # relpath ever committed (scan all manifests for dir discovery)
    data_dirs: set[str] = set()
    for name in os.listdir(_mdir(base)):
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        with open(os.path.join(_mdir(base), name)) as f:
            m = json.load(f)
        for rels in m["families"].values():
            data_dirs.update(rel.split(os.sep, 1)[0] for rel in rels)
    import time

    now = time.time()
    inflight_start = _oldest_inflight_start(base)
    removed = 0
    for d in data_dirs:
        droot = os.path.join(base, d)
        if not os.path.isdir(droot):
            continue
        for root, _dirs, files in os.walk(droot, topdown=False):
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, base)
                if rel in live:
                    continue
                try:
                    mtime = os.path.getmtime(full)
                    if min_age_s and now - mtime < min_age_s:
                        continue  # possibly a racing writer's staged file
                    if inflight_start is not None and mtime >= inflight_start:
                        continue  # registered writer still in its commit window
                    os.unlink(full)
                    removed += 1
                except FileNotFoundError:
                    pass  # racing vacuum/discard already took it
            if not os.listdir(root):
                os.rmdir(root)
    for name in os.listdir(_mdir(base)):
        if name.startswith("v") and name.endswith(".json"):
            if int(name[1:-5]) not in kept_versions:
                os.unlink(os.path.join(_mdir(base), name))
    return removed
