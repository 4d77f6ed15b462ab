"""Incremental vector store — the embedding-side twin of corpus_store.

Embedding tables grow the same way document corpora do (daily batches
of freshly embedded content), and the two things a pipeline asks of
them — "is this vector new or a semantic duplicate?" on the way in,
and "nearest neighbors of q" on the way out — both want the SAME
layout: rows partitioned by their IVF coarse cell. This module keeps
that layout incrementally:

  - `create` trains centroids ONCE from the founding batch
    (similarity.train_centroids — bounded-sample k-means, the FAISS
    recipe), persists them as JSON beside the data, and ingests the
    batch. Centroids are a store-lifetime constant: cells stay
    comparable forever, and every later batch assigns against them
    (Catalyst fold for small k, the Arrow two-level path for large).
  - `add_batch` assigns the batch, exact-dedups by vec_id against
    ONLY the touched cells (directory-pruned read), optionally
    semantic-dedups against the stored members of those same cells
    (cosine >= threshold drops the newcomer; in-batch, lowest id
    wins — corpus_store's near-dup contract), and appends partitioned
    by centroid_id. Replay after a crash converges: committed ids are
    skipped, missing ones land.
  - `probe` answers top-k reading only n_probe cell directories
    (PartitionFilters, pinned by test) — the persisted-index promise
    of similarity.ivf_probe_topk, kept true under continuous adds.

Cost per batch: one assignment map + one cell-pruned read + one
bounded pairwise pass + an append of only-new rows — never a scan of
the store.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from block_explorer_spark.operators import similarity as Sim
from block_explorer_spark.sources import manifest as Mf

#: Past this centroid count the Catalyst literal-fold assignment stops
#: scaling; switch to the Arrow two-level path (see ivf_assign_arrow).
ARROW_ASSIGN_AT = 64

VECTORS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def _data_path(base: str) -> str:
    return os.path.join(base, "vectors")


def _centroids_path(base: str) -> str:
    return os.path.join(base, "centroids.json")


def load_centroids(base: str) -> list[list[float]]:
    with open(_centroids_path(base)) as f:
        return json.load(f)


def _assign(batch: DataFrame, centroids: list[list[float]]) -> DataFrame:
    if len(centroids) > ARROW_ASSIGN_AT:
        return Sim.ivf_assign_arrow(
            batch, "embedding", centroids, coarse_probes=4
        )
    return Sim.ivf_assign(batch, "embedding", centroids)


_FULL_SCHEMA = T.StructType(
    list(VECTORS_SCHEMA.fields) + [T.StructField("centroid_id", T.IntegerType())]
)


def _cell_files(rels: list[str], cells: list[int]) -> list[str]:
    tags = {f"centroid_id={c}{os.sep}" for c in cells}
    return [r for r in rels if any(t in r for t in tags)]


def _read_files(spark: SparkSession, base: str, rels: list[str]) -> DataFrame:
    if not rels:
        return spark.createDataFrame([], _FULL_SCHEMA)
    return (
        spark.read.schema(_FULL_SCHEMA)
        .option("basePath", _data_path(base))
        .parquet(*sorted(os.path.join(base, r) for r in rels))
    )


def read_vectors(
    spark: SparkSession, base: str, snapshot: dict | None = None
) -> DataFrame:
    m = snapshot if snapshot is not None else Mf.read(base)
    _require_migrated(base, m["version"])
    return _read_files(spark, base, m["families"].get("vectors", []))


def migrate(base: str) -> int:
    """One-shot adoption of a store written before the manifest log
    (round <= 4 writers): commits unlisted parquet files under
    vectors/ into the next manifest version. Idempotent."""
    return Mf.adopt(base, {"vectors": "vectors"})


def _require_migrated(base: str, version: int | None = None) -> None:
    Mf.require_migrated(base, ["vectors"], "vector_store.migrate", version)


def create(
    spark: SparkSession,
    base: str,
    batch: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    dedup_threshold: float | None = None,
) -> dict:
    """Found the store: train centroids on the batch, persist them,
    ingest the batch through the same path every later add uses.

    Refuses to re-found an existing store: centroids are a
    store-lifetime constant (cell pruning and probe correctness depend
    on it), so retraining over data partitioned by the OLD cells would
    silently corrupt the layout (ADVICE r4)."""
    if os.path.exists(_centroids_path(base)):
        raise FileExistsError(
            f"vector store at {base} is already founded; use add_batch"
        )
    os.makedirs(base, exist_ok=True)
    cents = Sim.train_centroids(batch, "embedding", n_centroids, seed)
    with open(_centroids_path(base), "w") as f:
        json.dump(cents, f)
    return add_batch(spark, base, batch, dedup_threshold=dedup_threshold)


def add_batch(
    spark: SparkSession,
    base: str,
    batch: DataFrame,
    dedup_threshold: float | None = None,
) -> dict:
    """One incremental add. Returns {n_in, n_known, n_near_dup,
    n_added}.

    Transactional: dedup validates against a pinned manifest snapshot
    and the surviving rows publish in one `manifest.transact`, so two
    concurrent adds can never both land the same vec_id."""
    _require_migrated(base)
    cents = load_centroids(base)
    assigned = _assign(batch.select(*[f.name for f in VECTORS_SCHEMA.fields]), cents)
    assigned = assigned.cache()
    n_in = assigned.count()
    cells = [r.centroid_id for r in assigned.select("centroid_id").distinct().collect()]

    def attempt(snap, stage):
        vec_rels = snap["families"].get("vectors", [])
        cell_rels = _cell_files(vec_rels, cells)
        stored_cells = _read_files(spark, base, cell_rels) if cell_rels else None
        if stored_cells is not None:
            fresh = assigned.join(stored_cells.select("vec_id"), "vec_id", "left_anti")
        else:
            fresh = assigned
        fresh = fresh.cache()
        n_fresh = fresh.count()
        n_known = n_in - n_fresh

        n_near_dup = 0
        if dedup_threshold is not None and n_fresh:
            # One verified pairwise pass per cell over stored members +
            # fresh rows: stored wins, else lowest vec_id (re-keyed
            # uid = 2*id / 2*id+1 — corpus_store's rule).
            from block_explorer_spark.sources.corpus_store import _rekey

            stored_side = (
                stored_cells.select(
                    _rekey("vec_id", 0).alias("uid"), "embedding", "centroid_id"
                )
                if stored_cells is not None
                else spark.createDataFrame(
                    [], "uid long, embedding array<float>, centroid_id int"
                )
            )
            u = stored_side.unionByName(
                fresh.select(
                    _rekey("vec_id", 1).alias("uid"), "embedding", "centroid_id"
                )
            )
            pairs = Sim.cosine_pairs_blas(
                u, "embedding", "centroid_id", threshold=dedup_threshold, id_col="uid"
            )
            even_a = (F.col("id_a") % 2) == 0
            even_b = (F.col("id_b") % 2) == 0
            drops = (
                pairs.filter(even_a & ~even_b).select(F.col("id_b").alias("uid"))
                .unionByName(pairs.filter(~even_a & even_b).select(F.col("id_a").alias("uid")))
                .unionByName(pairs.filter(~even_a & ~even_b).select(F.col("id_b").alias("uid")))
                .distinct()
                # integer DIV, not float division: for vec_id >= 2^53
                # the double quotient rounds and the anti-join below
                # would drop the WRONG row (ADVICE r4)
                .select(F.expr("(uid - 1) DIV 2").alias("vec_id"))
            )
            kept = fresh.join(drops, "vec_id", "left_anti").cache()
            n_near_dup = n_fresh - kept.count()
            fresh.unpersist()
            fresh = kept
        n_added = n_fresh - n_near_dup
        counts = {"n_known": n_known, "n_near_dup": n_near_dup, "n_added": n_added}
        if not n_added:
            fresh.unpersist()
            return counts, None
        new_rels = stage.df(
            fresh.repartition("centroid_id"), "vectors", partition_by="centroid_id"
        )
        fresh.unpersist()
        families = dict(snap["families"])  # pq_codes / vec_cdc stay listed
        families["vectors"] = vec_rels + new_rels
        return counts, {
            "families": families,
            "meta": {"kind": "add"},
            "stats": Mf.file_stats(base, new_rels, ["vec_id"]),
        }

    counts = Mf.transact(base, attempt)
    assigned.unpersist()
    return {"n_in": n_in, **counts}


#: Family holding the delete log — one (vec_id) row per physically
#: deleted vector, stamped with the commit version by the feed walk.
#: The insert feed (`changes_since`) skips delete commits entirely
#: (their added files are survivor REWRITES, not new rows);
#: `deletes_since` is the removal channel a mirror consumes.
VEC_CDC = "vec_cdc"


def delete_ids(spark: SparkSession, base: str, vec_ids) -> int:
    """RTBF deletion: physically remove vectors by id and return the
    count removed. The rewrite touches ONLY the files whose vec_id
    zone covers a requested id (the manifest records per-file vec_id
    stats at every add) plus the touched cells' PQ-code files — one
    CAS swap publishes survivors, rewritten codes, and the delete-log
    rows together, so a probe can never see a deleted vector through
    either tier after the commit, and never a torn state during it.

    `vec_ids`: a list of ints or a one-column DataFrame. The id set
    is collected driver-side (an RTBF request is a bounded list by
    nature — this is not bulk retention, which belongs in a
    predicate-shaped rewrite like corpus_store.delete_where)."""
    if not isinstance(vec_ids, (list, tuple)):
        vec_ids = [r[0] for r in vec_ids.select(vec_ids.columns[0]).distinct().collect()]
    ids = sorted({int(i) for i in vec_ids})
    if not ids:
        return 0
    ids_df = spark.createDataFrame([(i,) for i in ids], "vec_id long")

    def attempt(snap, stage):
        rels = snap["families"].get("vectors", [])
        touched = sorted({
            r for i in ids
            for r in Mf.prune_by_stats(snap, "vectors", "vec_id", lo=i, hi=i)
        })
        if not touched:
            return 0, None
        cur = _read_files(spark, base, touched).cache()
        hits = cur.join(ids_df, "vec_id").cache()
        n_hit = hits.count()
        if not n_hit:
            cur.unpersist()
            hits.unpersist()
            return 0, None
        cells = [r[0] for r in hits.select("centroid_id").distinct().collect()]
        survivors = cur.join(ids_df, "vec_id", "left_anti")
        new_rels = stage.df(
            survivors.repartition("centroid_id"), "vectors", partition_by="centroid_id"
        )
        log_rels = stage.df(hits.select("vec_id"), VEC_CDC)
        families = dict(snap["families"])
        families["vectors"] = [r for r in rels if r not in set(touched)] + new_rels
        families[VEC_CDC] = families.get(VEC_CDC, []) + log_rels
        crels = snap["families"].get("pq_codes", [])
        if crels:
            ctouched = _cell_files(crels, cells)
            if ctouched:
                ccur = _read_codes(spark, base, ctouched)
                csurv = ccur.join(ids_df, "vec_id", "left_anti")
                cnew = stage.df(
                    csurv.repartition("centroid_id"), "pq_codes",
                    partition_by="centroid_id",
                )
                families["pq_codes"] = [
                    r for r in crels if r not in set(ctouched)
                ] + cnew
        cur.unpersist()
        hits.unpersist()
        return n_hit, {
            "families": families,
            "meta": {"kind": "delete"},
            "stats": Mf.file_stats(base, new_rels, ["vec_id"]),
        }

    return Mf.transact(base, attempt)


def deletes_since(
    spark: SparkSession,
    base: str,
    since_version: int,
    until_version: int | None = None,
) -> DataFrame:
    """The removal channel: (vec_id, version) for every delete commit
    in (since, until] — what a downstream mirror applies alongside
    `changes_since`'s inserts. Same retention contract."""
    entries = Mf.added_files(
        base, family=VEC_CDC, since_version=since_version,
        until_version=until_version,
    )
    frames = []
    for e in entries:
        rels = e["added"].get(VEC_CDC)
        if not rels:
            continue
        frames.append(
            spark.read.schema("vec_id long")
            .parquet(*[os.path.join(base, r) for r in rels])
            .withColumn("version", F.lit(e["version"]).cast("long"))
        )
    if not frames:
        return spark.createDataFrame([], "vec_id long, version long")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def changes_since(
    spark: SparkSession,
    base: str,
    since_version: int,
    until_version: int | None = None,
) -> DataFrame:
    """Incremental feed of vectors added in (since, until] — what a
    downstream ANN index mirror or re-embedding audit consumes instead
    of rescanning the store. The store is append-only (adds stage only
    proven-new vec_ids; canonicalize is data_change=false repair), so
    the feed is exactly the per-commit added files with the commit
    version stamped on (corpus_store.changes_since's op column is
    unnecessary — every row is an insert). Same retention rule:
    vacuum(keep_last) bounds the walk, and past it the manifest layer
    raises the loud resync error."""
    entries = Mf.added_files(
        base, family="vectors", since_version=since_version,
        until_version=until_version,
    )
    frames = [
        _read_files(spark, base, e["added"]["vectors"]).withColumn(
            "version", F.lit(e["version"]).cast("long")
        )
        for e in entries
        if e.get("meta", {}).get("data_change", True) is not False
        # delete commits ADD files too — survivor rewrites, not new
        # rows; re-emitting them would double a mirror. Removals
        # travel on `deletes_since`.
        and e.get("meta", {}).get("kind") != "delete"
        and e["added"].get("vectors")
    ]
    if not frames:
        return spark.createDataFrame(
            [],
            T.StructType(
                list(_FULL_SCHEMA.fields)
                + [T.StructField("version", T.LongType())]
            ),
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


_CODES_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("pq_codes", T.ArrayType(T.IntegerType())),
        T.StructField("centroid_id", T.IntegerType()),
    ]
)


def _pq_model_path(base: str) -> str:
    return os.path.join(base, "pq_model.json")


def load_pq(base: str) -> dict:
    """The store's PQ record: {"model": pq.pq_train dict,
    "encoded_version": manifest version the codes family covers}.
    Raises FileNotFoundError when the store has no PQ tier — callers
    must build_pq first (silently falling back to exact would hide a
    256x memory regression at scale)."""
    try:
        with open(_pq_model_path(base)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no PQ model at {_pq_model_path(base)}: run "
            "vector_store.build_pq(spark, base) once before "
            'probe(..., tier="pq")'
        ) from None


def _read_codes(spark: SparkSession, base: str, rels: list[str]) -> DataFrame:
    if not rels:
        return spark.createDataFrame([], _CODES_SCHEMA)
    return (
        spark.read.schema(_CODES_SCHEMA)
        .option("basePath", os.path.join(base, "pq_codes"))
        .parquet(*sorted(os.path.join(base, r) for r in rels))
    )


def build_pq(
    spark: SparkSession,
    base: str,
    m: int = 4,
    k: int = 16,
    iters: int = 3,
    sample_size: int = 256,
    normalize: bool = True,
) -> dict:
    """Build the store's PQ tier (operators/pq.py): train codebooks on
    the `sample_size` smallest vec_ids (a value bound, deterministic
    under any partitioning), encode the whole snapshot, and commit the
    codes as the `pq_codes` family — partitioned by centroid_id so the
    probe's cell pruning carries over to the code files. The commit is
    `data_change: False` (derived data: CDC consumers don't see it).
    Re-running rebuilds the family wholesale (the correct move after
    canonicalize/compact rewrites). At 64-d float32 the codes are 64x
    smaller than the vectors — the tier that keeps a billion-vector
    cell scan in page cache.

    `normalize=True` (default): rows are L2-normalized before
    quantization so ADC ranks in exact cosine order — consistent with
    the exact tier's cosine. Raw-L2 PQ (normalize=False) is the q101
    lattice mode."""
    from block_explorer_spark.operators import pq as PQ

    def attempt(snap, stage):
        vecs = read_vectors(spark, base, snap)
        ids = [
            r[0]
            for r in vecs.select("vec_id").orderBy("vec_id").limit(sample_size).collect()
        ]
        if not ids:
            raise ValueError(f"vector store at {base} is empty; cannot train PQ")
        model = PQ.pq_train(
            vecs, "embedding", id_col="vec_id", m=m, k=k, iters=iters,
            sample_max_id=ids[-1] + 1, normalize=normalize,
        )
        codes = PQ.pq_encode(vecs, "embedding", model).select(
            "vec_id", "pq_codes", "centroid_id"
        )
        families = dict(snap["families"])
        families["pq_codes"] = stage.df(
            codes.repartition("centroid_id"), "pq_codes", partition_by="centroid_id"
        )
        rec = {"model": model, "encoded_version": snap["version"] + 1}
        return rec, {
            "families": families,
            "meta": {"kind": "build_pq", "data_change": False},
        }

    rec = Mf.transact(base, attempt)
    with open(_pq_model_path(base), "w") as f:
        json.dump(rec, f)
    return rec


def refresh_pq(spark: SparkSession, base: str) -> int:
    """Encode only the vectors added since the codes family was last
    built/refreshed (the CDC feed bounds the work to the delta, never
    the corpus) and append them to `pq_codes`. Returns rows encoded.
    Codebooks are NOT retrained — like the coarse centroids they are a
    tier-lifetime constant, so codes stay comparable across refreshes
    (the FAISS practice)."""
    from block_explorer_spark.operators import pq as PQ

    rec = load_pq(base)

    def attempt(snap, stage):
        if snap["version"] == rec["encoded_version"]:
            return (0, snap["version"]), None
        delta = changes_since(
            spark, base, since_version=rec["encoded_version"],
            until_version=snap["version"],
        )
        dels = deletes_since(
            spark, base, since_version=rec["encoded_version"],
            until_version=snap["version"],
        )
        # an add staged before a later delete in the same window must
        # not re-enter as a ghost code — the delete already rewrote
        # the touched cells' codes
        delta = delta.join(dels.select("vec_id"), "vec_id", "left_anti")
        codes = PQ.pq_encode(delta, "embedding", rec["model"]).select(
            "vec_id", "pq_codes", "centroid_id"
        )
        new_rels = stage.df(
            codes.repartition("centroid_id"), "pq_codes", partition_by="centroid_id"
        )
        n_delta = _read_codes(spark, base, new_rels).count()
        if not n_delta:
            # version moved but no vector rows changed (build/repair
            # commits): advance the local watermark, commit nothing.
            return (0, snap["version"]), None
        families = dict(snap["families"])
        families["pq_codes"] = families.get("pq_codes", []) + new_rels
        return (n_delta, snap["version"] + 1), {
            "families": families,
            "meta": {"kind": "refresh_pq", "data_change": False},
        }

    n_delta, version = Mf.transact(base, attempt)
    if version != rec["encoded_version"]:
        rec["encoded_version"] = version
        with open(_pq_model_path(base), "w") as f:
            json.dump(rec, f)
    return n_delta


def _probe_pq(
    spark: SparkSession, base: str, query: list[float], k: int, n_probe: int,
    rerank: int | None = None,
) -> DataFrame:
    """PQ-tier probe: select cells with the coarse centroids (same
    rule as the exact tier), read ONLY those cells' code files from
    the manifest snapshot, and ADC top-k against the broadcast LUT.
    Vectors committed after the codes snapshot are encoded on the fly
    from the CDC feed (cost ∝ delta, and only its probe-cell rows),
    so the probe stays correct under continuous adds without waiting
    for refresh_pq. Returns (vec_id, adc_dist) — ascending int L2 on
    the PQ lattice."""
    from block_explorer_spark.operators import pq as PQ

    rec = load_pq(base)
    model = rec["model"]
    cents = load_centroids(base)
    snap = Mf.read(base)
    probes = Sim._probe_cells(query, cents, n_probe)
    tags = {f"centroid_id={c}{os.sep}" for c in probes}
    code_rels = [
        r for r in snap["families"].get("pq_codes", [])
        if any(t in r for t in tags)
    ]
    scored = _read_codes(spark, base, code_rels)
    if snap["version"] > rec["encoded_version"]:
        delta = changes_since(
            spark, base, since_version=rec["encoded_version"],
            until_version=snap["version"],
        ).filter(F.col("centroid_id").isin([int(c) for c in probes]))
        scored = scored.unionByName(
            PQ.pq_encode(delta, "embedding", model).select(
                "vec_id", "pq_codes", "centroid_id"
            )
        )
    if rerank is None:
        return PQ.adc_topk_codes(
            scored, "pq_codes", PQ.adc_lut(query, model), k=k, id_col="vec_id"
        )
    # two-stage (the FAISS production form): ADC top-`rerank`
    # candidates from the codes, exact cosine over ONLY those vectors
    # (a `rerank`-row IN-list read against the probed cells), top-k.
    # Measured: recall@1 = 1.0 at x100/x1000 (ANN_RECALL.json) while
    # the scan stays M bytes/row.
    cand = [
        r.vec_id
        for r in PQ.adc_topk_codes(
            scored, "pq_codes", PQ.adc_lut(query, model),
            k=rerank, id_col="vec_id",
        ).collect()
    ]
    vec_rels = snap["families"].get("vectors", [])
    cells = _read_files(spark, base, _cell_files(vec_rels, list(probes)))
    return Sim.brute_force_topk(
        cells.filter(F.col("vec_id").isin(cand)), "embedding", query, k
    )


def _curve_path(base: str) -> str:
    return os.path.join(base, "recall_curve.json")


def calibrate(
    spark: SparkSession,
    base: str,
    n_queries: int = 16,
    k: int = 10,
    n_probes: list[int] | None = None,
) -> dict:
    """Measure THIS store's recall→n_probe curve (round-6 item 4) and
    persist it beside the centroids as store metadata.

    ANN_RECALL.json's finding is that recall tracks the probed cell
    fraction, and the right n_probe for a target recall depends on the
    store's own sizing (k_centroids vs N) — a constant default is
    wrong at some scale. So the store measures itself: sample
    `n_queries` stored vectors deterministically (xxhash64 order — no
    RNG, replays identically), take brute-force top-k over the full
    snapshot as ground truth (= a probe of every cell), then replay
    each query at each candidate n_probe and record mean recall@k.
    `probe(target_recall=...)` consults the persisted curve.

    Cost: n_queries x (|n_probes|+1) bounded top-k jobs against one
    pinned snapshot — an offline maintenance action, like compact().
    Re-run after the store grows materially (the curve records the
    store size it was measured at; probe warns via metadata, not
    silently)."""
    cents = load_centroids(base)
    snap = Mf.read(base)
    n_vecs = read_vectors(spark, base, snap).count()
    if n_probes is None:
        n_probes = [
            p for p in (1, 2, 4, 8, 16, 32, 64) if p < len(cents)
        ] or [1]
    queries = [
        (r.vec_id, r.embedding)
        for r in read_vectors(spark, base, snap)
        .orderBy(F.xxhash64(F.col("vec_id")))
        .limit(n_queries)
        .collect()
    ]
    files = [
        os.path.join(base, r) for r in snap["families"].get("vectors", [])
    ]

    def topk_ids(q, n_probe):
        df = Sim.ivf_probe_topk(
            spark, _data_path(base), q, cents, k=k, n_probe=n_probe,
            files=files,
        )
        return {r[0] for r in df.collect()}

    measured: dict[str, float] = {}
    truths = [topk_ids(q, len(cents)) for _, q in queries]  # exact
    for p in n_probes:
        hits = sum(
            len(topk_ids(q, p) & truth)
            for (_, q), truth in zip(queries, truths)
        )
        measured[str(p)] = round(hits / (k * len(queries)), 4)
    curve = {
        "k": k,
        "n_queries": len(queries),
        "n_vecs": n_vecs,
        "n_centroids": len(cents),
        "measured": measured,
    }
    with open(_curve_path(base), "w") as f:
        json.dump(curve, f)
    return curve


def load_recall_curve(base: str) -> dict | None:
    try:
        with open(_curve_path(base)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def select_n_probe(base: str, target_recall: float) -> int | None:
    """The selection rule (pinned by test_vector_store): smallest
    measured n_probe whose calibrated recall@k reaches the target;
    None when no probed config reaches it — the caller must take the
    exact tier (probe every cell; production: SQ8 + exact rerank,
    measured 1.000 in ANN_RECALL.json). Raises if the store was never
    calibrated: guessing an n_probe would silently miss the target."""
    curve = load_recall_curve(base)
    if curve is None:
        raise FileNotFoundError(
            f"no recall curve at {_curve_path(base)}: run "
            "vector_store.calibrate(spark, base) once before "
            "probe(target_recall=...)"
        )
    for p, r in sorted(curve["measured"].items(), key=lambda kv: int(kv[0])):
        if r >= target_recall:
            return int(p)
    return None


def probe(
    spark: SparkSession,
    base: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 2,
    target_recall: float | None = None,
    tier: str = "exact",
    rerank: int | None = None,
    where=None,
) -> DataFrame:
    """Top-k over the probe cells only: the manifest snapshot IS the
    file listing, so the probe reads exactly the live files of the
    probe cells — no directory listing, and a concurrent add/delete
    can't tear the read.

    `tier="pq"` (round 7): answer from the persisted PQ codes family
    instead of the raw vectors — same cell selection, but the scan is
    M bytes/row + a broadcast LUT (see _probe_pq / build_pq). Returns
    (vec_id, adc_dist) rather than (vec_id, cosine); production
    re-ranks the PQ candidates with exact vectors when it needs
    cosine-faithful order.

    `where` (round 8): filtered search — a Column predicate over the
    stored metadata columns (e.g. `F.col("label") == 3`), applied
    INSIDE the probe cells BEFORE the distance math (pre-filter):
    exact top-k among matching vectors of the probed cells, with the
    predicate pushed into the parquet scan. The post-filter
    alternative ("fetch k, then filter") under-fills k and is not
    offered. PQ tier refuses `where` loudly (codes carry no
    metadata).

    `target_recall` (round 6): ignore `n_probe` and pick it from the
    store's calibrated recall curve (see `calibrate`); if no measured
    n_probe reaches the target, probe EVERY cell (exact, recall 1.0 —
    the brute-force tier; production stores at that operating point
    should be re-founded with per-use-case k, the ANN_RECALL.json
    finding)."""
    cents = load_centroids(base)
    if target_recall is not None:
        chosen = select_n_probe(base, target_recall)
        n_probe = chosen if chosen is not None else len(cents)
        # staleness guard: the curve was measured at a store size; the
        # recall/n_probe trade-off drifts as cells fill. Warn (never
        # fail a read path) once the store has grown well past the
        # calibration point.
        curve = load_recall_curve(base)
        if curve and curve.get("n_vecs"):
            import warnings

            n_now = read_vectors(spark, base).count()
            if n_now >= 4 * curve["n_vecs"]:
                warnings.warn(
                    f"vector store at {base} has {n_now} vectors but its "
                    f"recall curve was calibrated at {curve['n_vecs']}; "
                    "re-run vector_store.calibrate() — the chosen n_probe "
                    "may no longer reach the target recall",
                    stacklevel=2,
                )
    if tier == "pq":
        if where is not None:
            raise ValueError(
                "filtered search needs the metadata columns, which the "
                "PQ codes family does not carry — use tier='exact' "
                "(or re-rank a wider unfiltered PQ candidate set "
                "yourself, accepting post-filter under-fill)"
            )
        return _probe_pq(spark, base, query, k, n_probe, rerank=rerank)
    if tier != "exact":
        raise ValueError(f"unknown probe tier {tier!r}: use 'exact' or 'pq'")
    files = [
        os.path.join(base, r)
        for r in Mf.read(base)["families"].get("vectors", [])
    ]
    return Sim.ivf_probe_topk(
        spark, _data_path(base), query, cents, k=k, n_probe=n_probe,
        files=files, where=where,
    )


def probe_many(
    spark: SparkSession,
    base: str,
    queries: dict[str, list[float]],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """N vector queries against the store in ONE pass — the vector
    twin of the BM25/phrase sweeps (q128/q144): the union of all
    queries' probe cells is read once, a broadcast (query_id, qvec,
    cells) table fans the rows out, and each query scores ONLY its
    own cells' rows (array_contains on the broadcast side), so every
    per-query result is IDENTICAL to its single `probe` call — same
    cells, same left-to-right double arithmetic, same (cosine desc,
    vec_id) tie-break — while the store-side scan is paid once
    instead of N times. Per-query top-k via one partitioned
    row_number. Returns (query_id, vec_id, cosine).

    Bounded fan-out: rows × matching-queries, so N belongs in the
    hundreds (a re-ranking or eval sweep), not the millions — beyond
    that, embed the queries as a table and use the blocked GEMM path
    (similarity.cosine_pairs_blas)."""
    from pyspark.sql import Window as W

    from block_explorer_spark.functions import vectors as V
    from block_explorer_spark.operators import similarity as Sim

    if not queries:
        raise ValueError("probe_many needs at least one query")
    cents = load_centroids(base)
    qrows = []
    all_cells: set[int] = set()
    for qid in sorted(queries):
        vec = [float(x) for x in queries[qid]]
        cells = Sim._probe_cells(vec, cents, n_probe)
        all_cells.update(cells)
        acc = 0.0
        for x in vec:
            acc += x * x
        qrows.append((qid, vec, [int(c) for c in cells], acc ** 0.5))
    snap = Mf.read(base)
    rels = _cell_files(snap["families"].get("vectors", []), sorted(all_cells))
    if not rels:
        return spark.createDataFrame(
            [], "query_id string, vec_id long, cosine double"
        )
    rows = _read_files(spark, base, rels)
    qdf = spark.createDataFrame(
        qrows,
        "query_id string, qe array<double>, cells array<int>, qnorm double",
    )
    fanned = rows.join(
        F.broadcast(qdf),
        F.array_contains(F.col("cells"), F.col("centroid_id")),
    )
    scored = fanned.select(
        "query_id",
        "vec_id",
        (
            V.dot(F.col("embedding"), F.col("qe"))
            / (V.norm(F.col("embedding")) * F.col("qnorm"))
        ).alias("cosine"),
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    )
    return (
        scored.withColumn("__rn", rn)
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("query_id", F.desc("cosine"), F.asc("vec_id"))
    )


def start_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    base: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    dedup_threshold: float | None = None,
):
    """Continuous embedding ingest: readStream over a vectors parquet
    directory → foreachBatch(add_batch). The store must already be
    founded (create) so centroids exist. Checkpointed offsets resume
    at the first unprocessed file; replayed micro-batches re-run the
    idempotent add (known ids skipped) — the corpus_store streaming
    contract on the embedding side."""
    stream = (
        spark.readStream.schema(VECTORS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        add_batch(spark, base, batch, dedup_threshold=dedup_threshold)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def canonicalize(spark: SparkSession, base: str) -> int:
    """Enforce one-row-per-vec_id across the store. Racing adds now
    serialize through the manifest CAS (add_batch), so the sweep is
    defense-in-depth: repair for stores whose MANIFESTED data was
    corrupted out-of-band, or that were adopted via `migrate(base)`
    AFTER running it (it reads via the manifest, so it cannot see
    un-adopted pre-manifest files) — corpus_store.canonicalize's
    twin. The survivor is deterministic: min centroid_id, then min
    embedding hash (the tiebreak only matters for genuinely divergent
    re-adds). The commit is one manifest swap replacing the hit
    cells' files; a cell whose every row was a duplicate loser simply
    stops being listed (the round-4 dynamic-overwrite
    leftover-directory hazard is gone by construction). Old files
    remain until manifest.vacuum."""
    from pyspark.sql.window import Window

    def attempt(snap, stage):
        vec_rels = snap["families"].get("vectors", [])
        if not vec_rels:
            return 0, None
        table = _read_files(spark, base, vec_rels)
        dup_ids = (
            table.groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .select("vec_id")
        )
        hit_cells = [
            r.centroid_id
            for r in table.join(dup_ids, "vec_id", "left_semi")
            .select("centroid_id").distinct().collect()
        ]
        if not hit_cells:
            return 0, None
        touched_rels = _cell_files(vec_rels, hit_cells)
        touched = _read_files(spark, base, touched_rels)
        n_before = touched.count()
        w = Window.partitionBy("vec_id").orderBy("centroid_id", F.hash("embedding"))
        kept = (
            touched.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        new_rels = stage.df(
            kept.repartition("centroid_id"), "vectors", partition_by="centroid_id"
        )
        n_removed = n_before - _read_files(spark, base, new_rels).count()
        if not n_removed:
            return 0, None
        families = dict(snap["families"])
        families["vectors"] = [
            r for r in vec_rels if r not in set(touched_rels)
        ] + new_rels
        return n_removed, {
            "families": families,
            "meta": {"kind": "canonicalize", "data_change": False},
            "stats": Mf.file_stats(base, new_rels, ["vec_id"]),
        }

    return Mf.transact(base, attempt)
