"""Deduplication operators for 100 TB training-data pipelines.

Five tiers, cheapest first; all shuffle-aware:

  exact_dedup        — hash-groupBy on a normalized key (one shuffle)
  fingerprint_dedup  — bag-of-words md5 key (order/dup-insensitive)
  jaccard_pairs      — EXACT n-gram/token jaccard via an inverted
                       shingle index: explode → self-join on shingle →
                       count intersections → filter. Cost ~ sum over
                       shingles of df(s)^2 — fine when shingle
                       frequencies are tame.
  jaccard_pairs_prefix / containment_pairs_prefix
                     — the scale path: same EXACT output, candidates
                       from per-doc PREFIXES of the rarity-ordered
                       index (Bayardo et al. WWW'07 / PPJoin), so hot
                       shingles whose df grows with the corpus never
                       produce df² candidates. 13x measured at 10x
                       corpus; the gap widens with scale.
  minhash_lsh_pairs  — MinHash signatures + banded LSH bucketing:
                       candidates = pairs sharing a band bucket; then
                       exact-verify. Cost ~ candidates, not pairs.
  simhash_pairs      — 64-bit SimHash + banded hamming lookup.

Embedding near-dup lives in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from block_explorer_spark import placement
from block_explorer_spark.functions import text as Tx


def exact_dedup(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Group rows by `key`; keep the min-id canonical row id + dup count.

    One hash-shuffle on the key; map-side partial agg makes duplicate-
    heavy inputs cheap. Output: (dedup_key, keep_id, dup_count).
    """
    return (
        df.select(key.alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """exact_dedup on the bag-of-words md5 fingerprint."""
    return exact_dedup(df, Tx.word_set_fingerprint(text_col), id_col)


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to cluster parallelism when the input is under-
    partitioned for explode-heavy compute.

    Shingling amplifies work per input row by orders of magnitude
    (tokenize × n-grams × hash family), so a scan whose file layout
    yields fewer partitions than cores would serialize the whole map
    stage on a handful of tasks. The check is plan-only (no job); when
    the input already has >= defaultParallelism partitions — the
    normal case for a 100 TB table — this is a no-op, costing nothing.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# The pair pipelines' size gate is placement.small_plan over the
# SOURCE corpus: under its 32 MB estimate they drop their large-corpus
# physical pins (the shared per-doc-set exchange and the merge-join
# hints) and let AQE manage join strategy. Rationale: the pins exist
# to stop AQE from broadcast-promoting data-sized sides (measured 8
# GB-heap OOM at the x100 ≈ 150 MB-parquet corpus) and to share one
# tokenize pass across 2-3 consumers at corpus scale — but at
# fixture/small scale the same exchanges+sorts cost 2.8x wall (q25
# 1.66->4.57 s at sf0.1, round-9 regression). 32 MB source bytes is
# ~5x under the smallest corpus where promotion was ever observed to
# hurt, and any side derived from a <32 MB scan is safely
# broadcastable on the smallest heap we run (8 GB). In-memory or
# post-join corpora keep the pins even when tiny (the estimate errs
# large, ADVICE r10); callers who know better can pre-write the
# corpus to parquet.

#: Shard size for expanding exact-duplicate families into pairs
#: (hamming_pairs distance-0 path). A family of m identical hashes
#: yields C(m,2) pairs; sharding its sorted id list into chunks of
#: this size bounds per-task buffered state to ~2 chunks of ids
#: (a few hundred KB) regardless of m, while a chunk pair still
#: carries C(4096,2) ≈ 8.4M emissions — enough work per task that the
#: chunk bookkeeping never dominates. Small families (m <= chunk)
#: take the identical single-(0,0)-chunk-pair plan, so the common
#: case pays one posexplode over yesterday's in-row expansion.
_EQUAL_FAMILY_CHUNK = 4096

#: Largest bucket whose pairs may be expanded as one in-row struct
#: array (C(1024,2) ≈ 524k structs ≈ a few MB — comfortably inside a
#: task). Bigger buckets stream their pairs through the chunk-pair
#: join instead (_chunked_pair_expand): a degenerate LSH/prefix bucket
#: (a stop-shingle that slipped the frequency guard, a pathological
#: band collision) must degrade to slow-but-bounded, never to one
#: unsplittable quadratic row — the r9 sf1 OOM bug class.
_PAIR_EXPAND_MAX = 1024


def _pin_merge(df: DataFrame, pin: bool) -> DataFrame:
    """hint("merge") only on the large-corpus path; identity otherwise."""
    return df.hint("merge") if pin else df


def _hash_shingles(shingles: Column) -> Column:
    """Map a shingle array to 64-bit xxhash64 values, element-wise,
    preserving NULL elements as NULL (xxhash64(NULL) would return the
    seed — a real value — silently resurrecting null elements the
    callers filter out).

    r11 (guide §2.3 / §8 lightweight-proxy rule): the exact pair
    pipelines only ever test shingle EQUALITY (postings, prefix
    ordering tie-break, array_intersect) — never the text — so every
    exchange, sort, window and intersect downstream can move 8-byte
    longs instead of ~n-word strings. Output-preserving for the EXACT
    family: prefix filtering is exact under ANY fixed total shingle
    order (Bayardo WWW'07 — the order only shapes the CANDIDATE set),
    and the verified (inter, size, jaccard) integers are identical up
    to a 64-bit hash collision. NOT applied to MinHash signature
    inputs: re-seeding the hash family would change which
    near-threshold pairs LSH happens to catch, i.e. the query result.
    """
    return F.transform(shingles, lambda x: F.when(x.isNotNull(), F.xxhash64(x)))


def _shingle_index(df: DataFrame, id_col: str, shingles: Column, distinct: bool = True) -> DataFrame:
    """(id, shingle) inverted index, distinct per doc.

    Pass distinct=False for consumers whose aggregate is duplicate-
    insensitive (MIN in minhash) — saves a full shuffle.
    """
    idx = _spread(df).select(F.col(id_col).alias("__id"), F.explode(shingles).alias("__sh"))
    return idx.dropDuplicates(["__id", "__sh"]) if distinct else idx


def _chunked_pair_expand(
    fams: DataFrame, bucket_cols: list[str], chunk: int | None = None
) -> DataFrame:
    """All unordered in-bucket pairs of a sorted id array, streamed.

    `fams` carries bucket_cols + `__ids` (array_sort-ed, DISTINCT
    values). Each array is sharded into fixed `chunk`-sized pieces by
    posexplode position, and chunk pairs (cka <= ckb) are joined: the
    C(m,2) pairs leave as ordinary rows, per-task state is bounded by
    ~2 chunks of ids regardless of m, and work distributes across
    (bucket, chunk) shuffle keys. Correctness of the strict `a < b`
    filter relies on the sort + distinctness: for chunk indexes
    i < j every id in chunk i is strictly below every id in chunk j,
    so each unordered pair surfaces in exactly one (cka <= ckb)
    combination and the filter never drops a cross-chunk pair. A
    family with m <= chunk takes the single-(0,0)-chunk-pair plan.

    Output: bucket_cols + (a, b), a < b.
    """
    chunk = _EQUAL_FAMILY_CHUNK if chunk is None else chunk
    eids = fams.select(
        *bucket_cols, F.posexplode("__ids").alias("__pos", "__eid")
    ).select(
        *bucket_cols,
        (F.col("__pos") / chunk).cast("int").alias("__ck"),
        "__eid",
    )
    cpairs = (
        fams.select(
            *bucket_cols,
            F.ceil(F.size("__ids") / chunk).cast("int").alias("__nc"),
        )
        .select(
            *bucket_cols,
            F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("__cka"),
            "__nc",
        )
        .select(
            *bucket_cols,
            "__cka",
            F.explode(F.sequence(F.col("__cka"), F.col("__nc") - 1)).alias("__ckb"),
        )
    )
    return (
        cpairs.join(
            eids.select(
                *bucket_cols, F.col("__ck").alias("__cka"), F.col("__eid").alias("__pa")
            ),
            bucket_cols + ["__cka"],
        )
        .join(
            eids.select(
                *bucket_cols, F.col("__ck").alias("__ckb"), F.col("__eid").alias("__pb")
            ),
            bucket_cols + ["__ckb"],
        )
        .filter(F.col("__pa") < F.col("__pb"))
        .select(*bucket_cols, F.col("__pa").alias("a"), F.col("__pb").alias("b"))
    )


def _bucket_pairs(keyed: DataFrame, bucket_cols: list[str], payload: Column) -> DataFrame:
    """All unordered in-bucket pairs via collect_list + array combinatorics.

    The naive formulation — self-joining the keyed DataFrame on the
    bucket — re-executes the ENTIRE upstream lineage twice (Spark does
    not reuse the exchange across the aliased sides), which for LSH
    means recomputing every signature. Instead: one groupBy on the
    bucket key, then per-bucket pair expansion. Buckets are near-dup
    clusters — small by construction — so the common case expands each
    bucket's C(k,2) pairs as one in-row array expression
    (flatten/transform/slice: stays in codegen, computes the lineage
    once). But "small by construction" is a density argument, not a
    bound: a stop-shingle that slips the frequency guard or a
    pathological band collision makes ONE giant bucket, and an in-row
    expansion of it is an unsplittable quadratic row (the r9 sf1 OOM
    bug class). Buckets past _PAIR_EXPAND_MAX therefore stream their
    pairs through the chunk-pair join (_chunked_pair_expand) off the
    same grouped exchange — slow-but-bounded instead of fatal.
    `payload` values must be distinct within a bucket (true for every
    caller: ids per posting/band bucket, distinct hash values per
    pigeonhole bucket); the sharded branch's strict `<` would drop
    equal-payload pairs.

    Output: (pair.a, pair.b) structs of `payload`, a < b by the struct
    ordering, distinct.
    """
    grouped = keyed.groupBy(*bucket_cols).agg(F.array_sort(F.collect_list(payload)).alias("__ids"))
    pairs = grouped.filter(
        (F.size("__ids") > 1) & (F.size("__ids") <= _PAIR_EXPAND_MAX)
    ).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("__ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("__ids"), i + 2, F.size("__ids")),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("__pair")
    ).select("__pair.a", "__pair.b")
    oversized = _chunked_pair_expand(
        grouped.filter(F.size("__ids") > _PAIR_EXPAND_MAX), bucket_cols
    ).select("a", "b")
    return pairs.unionByName(oversized).dropDuplicates(["a", "b"])


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact jaccard-similar pairs via an inverted shingle index.

    Pairs that share zero shingles never meet (they can't pass any
    threshold > 0). Single-lineage plan — the document scan and
    shingling execute exactly once:

      explode → groupBy id (collect_set: dedup + set size in one
      shuffle) → re-explode with the size attached → groupBy shingle
      (posting list) → expand in-bucket pairs carrying (id, size) →
      groupBy pair: COUNT(*) = |intersection| →
      jaccard = inter / (|a| + |b| - inter).

    A naive a⋈b self-join on the shingle would re-execute the whole
    upstream twice and shuffle both sides; this is the same row count
    through one groupBy instead.

    `max_shingle_freq` drops super-common shingles (stop-shingles) —
    the standard guard against quadratic posting-list blowup on skewed
    shingle frequencies at scale; here it is a plain filter on posting-
    list length, no extra frequency join. Dropping a shingle can only
    lower the computed intersection, so with it set the result is a
    high-precision subset; leave None for exact semantics.

    Output: (id_a, id_b, inter, size_a, size_b, jaccard), id_a < id_b.
    """
    raw = _shingle_index(df, id_col, shingles, distinct=False)
    per_doc = raw.groupBy("__id").agg(F.collect_set("__sh").alias("__shs"))
    posting = per_doc.select(
        "__id", F.size("__shs").alias("__size"), F.explode("__shs").alias("__sh")
    )
    buckets = posting.groupBy("__sh").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__id").alias("id"), F.col("__size").alias("size")))
        ).alias("__ids")
    )
    buckets = buckets.filter(F.size("__ids") > 1)
    if max_shingle_freq is not None:
        buckets = buckets.filter(F.size("__ids") <= max_shingle_freq)
    expanded = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("__ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("__ids"), i + 2, F.size("__ids")),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("__pair")
    )
    out = (
        expanded.groupBy(
            F.col("__pair.a.id").alias("id_a"),
            F.col("__pair.b.id").alias("id_b"),
            F.col("__pair.a.size").alias("size_a"),
            F.col("__pair.b.size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")


def _per_doc_sets(
    df: DataFrame, id_col: str, shingles: Column, shared: bool = True
) -> DataFrame:
    """(__id, __shs sorted-distinct array, __size).

    TWO formulations, picked by the CALLER's consumer count — both
    verdicts are from clean same-machine x1000 A/Bs (r9 table + the
    r10 rerun of the r9-shipped config):

    shared=False — MAP-ONLY: the shingle expression already yields a
    per-row array, so the sorted-distinct set is a row-local
    projection (array_sort(array_distinct(...))). Right for pipelines
    that consume per_doc a bounded number of times without needing a
    common exchange: the full minhash pipeline (2 consumers) measured
    575.1 s vs 721.3 s with the aggregation form at x1000 (488.0 s
    final shipped config); at sf0.1 the two are within noise (1.7 s vs
    1.5 s full-pipeline medians) — the x1000 verdict is what decides.

    shared=True — EXPLODE + groupBy/collect_set: the aggregation's own
    exchange is the sharing point Catalyst actually reuses across 3+
    consumers (prefix postings + both verify sides). The r9-shipped
    alternative — map-only behind an explicit repartition("__id") —
    was measured THIS round at x1000 and lost decisively: q83 1265.9 s
    vs 715.9 s for the aggregation form (and map-only with NO sharing
    re-tokenizes per consumer: 1180.2 s). The explicit-repartition
    sharing idea dies here: AQE does not reuse the REPARTITION_BY_COL
    exchange the way it reuses aggregation exchanges, so it paid the
    exchange AND the recomputes.

    EMPTY-SET docs differ between the paths and that is deliberate:
    the aggregation drops them (explode yields no row), the map-only
    path keeps an (id, [], 0) row. No consumer can observe the
    difference — downstream either explodes __shs (drops them again)
    or inner-joins per_doc to a candidate set empty docs can't reach.
    Filtering them out on the map-only path was tried and reverted:
    Catalyst pushes the size()>0 predicate through the projection,
    re-evaluating the full tokenize/shingle expression per row (q25
    2.0 -> 5.0 s at sf0.1). NULL shingle arrays coalesce to (id, [],
    0) — without the coalesce, size(NULL) = -1 would leak a corrupt
    __size to any consumer that left-joins."""
    if shared:
        idx = _shingle_index(df, id_col, shingles, distinct=False)
        return (
            idx.groupBy("__id")
            .agg(F.array_sort(F.collect_set("__sh")).alias("__shs"))
            .withColumn("__size", F.size("__shs"))
        )
    dedup = F.array_distinct(
        F.filter(F.coalesce(shingles, F.array()), lambda x: x.isNotNull())
    )
    return (
        _spread(df)
        .select(
            F.col(id_col).alias("__id"),
            F.array_sort(dedup).alias("__shs"),
        )
        .withColumn("__size", F.size("__shs"))
    )


def _prefix_postings(
    per_doc: DataFrame, threshold: float, pin: bool = True
) -> DataFrame:
    """Per-doc PREFIX of the inverted index: each doc's
    |d| - ceil(t*|d|) + 1 globally-rarest shingles (global order =
    ascending document frequency, shingle as tie-break).

    The prefix-filtering principle (Bayardo/Ma/Srikant, "Scaling Up
    All Pairs Similarity Search", WWW'07; Xiao et al. PPJoin): if
    jaccard(a,b) >= t then |a∩b| >= ceil(t*max(|a|,|b|)), and two sets
    with overlap >= α must collide within their first |x| - α + 1
    elements of ANY common total order. Ordering by rarity makes the
    retained postings the small ones — the stop-shingle quadratic
    blowup (df² pair candidates on hot shingles) disappears without
    giving up EXACTNESS, unlike a df cap, which silently drops true
    pairs' shared shingles.

    The df pass is one extra linear groupBy + join; the posting lists
    that reach pair expansion shrink to the rare tail.
    """
    from pyspark.sql import Window

    posting = per_doc.select("__id", "__size", F.explode("__shs").alias("__sh"))
    dfreq = posting.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__sh")
    # -1e-9: ceil must not round an exact integer t*|d| UP through fp
    # error — that would shorten the prefix and lose true pairs
    prefix_len = F.col("__size") - F.ceil(
        F.lit(threshold) * F.col("__size") - F.lit(1e-9)
    ) + F.lit(1)
    # merge-pinned (pin=True, the large-corpus path): the df side is
    # one row per DISTINCT SHINGLE — it grows with the corpus (tens of
    # millions of trigram types at the x100 synthetic corpus,
    # unbounded at 100 TB), so an AQE broadcast promotion here is a
    # data-sized broadcast; its driver-side HashedRelation build
    # OOM'd the 8 GB heap in the round-9 x100 rerun. The posting side
    # reshuffles by __id for the prefix window right after, so the
    # broadcast would only have saved the __sh exchange — not worth
    # the scale hazard. pin=False (placement.small_plan) lets AQE broadcast.
    return (
        _pin_merge(posting, pin).join(dfreq, "__sh")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .select("__id", "__size", "__sh")
    )


def _verify_pairs(
    cand: DataFrame, per_doc: DataFrame, pin: bool = True
) -> DataFrame:
    """Join candidate (id_a, id_b) pairs back to their shingle sets and
    compute the EXACT intersection. Two hash joins on the id — linear,
    and candidates are prefix-pruned before they get here.

    Join strategy is PINNED to sort-merge: BOTH sides grow with the
    corpus (candidates with the near-dup rate, per-doc sets with N),
    so any broadcast here is a data-sized broadcast — AQE's runtime
    estimate sat near the 64 MB threshold at the x100 corpus and
    promoted the candidate side, OOM-ing the 8 GB driver (the exact
    failure mode measured in the round-9 scale rerun). SMJ and not
    shuffled-hash because SHJ's build map cannot spill: at the x100
    corpus its 512 MB allocation requests across 32 concurrent tasks
    in one heap aborted the stage, while SMJ's sort runs in bounded
    memory and spills gracefully (per-partition sort volume is tiny —
    the wide set rows hash-partition by doc id). The explicit hint
    keeps AQE from re-promoting either side to broadcast. pin=False
    (placement.small_plan inputs) drops the hints and lets AQE pick —
    broadcast is both safe and faster when the source scan is known
    to be tiny."""
    a_sets = per_doc.select(
        F.col("__id").alias("id_a"), F.col("__shs").alias("__shs_a")
    )
    b_sets = per_doc.select(
        F.col("__id").alias("id_b"), F.col("__shs").alias("__shs_b")
    )
    joined = _pin_merge(cand, pin).join(a_sets, "id_a")
    return (
        _pin_merge(joined, pin)
        .join(b_sets, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__shs_a", "__shs_b")).alias("inter"),
            F.size("__shs_a").alias("size_a"),
            F.size("__shs_b").alias("size_b"),
        )
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    threshold: float,
) -> DataFrame:
    """EXACT jaccard pairs with prefix filtering — same output as
    jaccard_pairs(max_shingle_freq=None), scale-safe posting lists.

    Candidates: in-bucket pairs over PREFIX postings only (both docs'
    prefixes must share a shingle — the WWW'07 theorem). Verification:
    exact set intersection. Candidate volume ~ Σ_s prefix_df(s)², and
    rarity-ordering keeps prefix_df tiny even for stop-shingles whose
    full df grows linearly with the corpus (the term that made the
    unfiltered index quadratic).
    """
    if threshold <= 0:
        raise ValueError("prefix filtering needs threshold > 0")
    big = not placement.small_plan(df)
    # hashed shingles (r11): exact under any total order — see
    # _hash_shingles. Changes the prefix tie-break (hash order, not
    # string order), hence possibly the candidate set, never the
    # verified output.
    per_doc = _per_doc_sets(df, id_col, _hash_shingles(shingles), shared=big)
    prefix = _prefix_postings(per_doc, threshold, pin=big)
    cand = (
        _bucket_pairs(prefix, ["__sh"], F.col("__id"))
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    out = _verify_pairs(cand, per_doc, pin=big).withColumn(
        "jaccard",
        F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "inter", "size_a", "size_b", "jaccard"
    )


def containment_pairs_prefix(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    threshold: float,
) -> DataFrame:
    """EXACT containment pairs (C = |a∩b| / min(|a|,|b|)) with
    one-sided prefix filtering.

    Containment's overlap bound depends only on the SMALLER set:
    |a∩b| >= ceil(t*min) — so the smaller doc's prefix must contain a
    shingle of the larger doc's FULL set. Candidates: prefix postings
    ⋈ full postings on the shingle, keeping the orientation where the
    prefix side is the (size, id)-min — every qualifying pair is
    caught through its min side, exactly once per shared shingle
    before dedup. Cost ~ Σ_s prefix_df(s)·df(s): linear in df, never
    df² (the full-index self-join this replaces).
    """
    if threshold <= 0:
        raise ValueError("prefix filtering needs threshold > 0")
    big = not placement.small_plan(df)
    # hashed shingles (r11): see _hash_shingles / jaccard_pairs_prefix
    per_doc = _per_doc_sets(df, id_col, _hash_shingles(shingles), shared=big)
    prefix = _prefix_postings(per_doc, threshold, pin=big).select(
        F.col("__id").alias("__pid"), F.col("__size").alias("__psize"), "__sh"
    )
    full = per_doc.select(
        F.col("__id").alias("__fid"),
        F.col("__size").alias("__fsize"),
        F.explode("__shs").alias("__sh"),
    )
    cand = (
        prefix.join(full, "__sh")
        .filter(
            (F.col("__psize") < F.col("__fsize"))
            | ((F.col("__psize") == F.col("__fsize")) & (F.col("__pid") < F.col("__fid")))
        )
        .select(
            F.least("__pid", "__fid").alias("id_a"),
            F.greatest("__pid", "__fid").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    out = _verify_pairs(cand, per_doc, pin=big).withColumn(
        "containment", F.col("inter") / F.least(F.col("size_a"), F.col("size_b"))
    )
    return out.filter(F.col("containment") >= threshold).select(
        "id_a", "id_b", "inter", "size_a", "size_b", "containment"
    )


def minhash_signatures(
    df: DataFrame, id_col: str, shingles: Column, num_hashes: int = 128
) -> DataFrame:
    """MinHash signature per id: hash each shingle string ONCE to a
    64-bit base, then derive hash-family member i as
    xxhash64(base, seed=i) — an 8-byte re-hash instead of re-hashing
    the full shingle string per seed (~3× faster end-to-end at 128
    hashes). One explode + one groupBy; the signature is an
    array<long> column ordered by seed. MIN is duplicate-insensitive,
    so the index skips its dedup shuffle.

    This KEEPS the explode + MIN-aggregate formulation at every scale
    (unlike _banded_signatures, which switches to a map-only transform
    on large corpora): the 128 MIN aggregates hold FIXED 128-long
    per-group state with map-side partial combine — memory-bounded and
    shuffle-light at any corpus size — while whole-stage codegen beats
    the interpreted row-local array_min(transform(...)) lambdas 3.3x
    at small scale (3.2 s vs 0.97 s at sf0.1). collect_list-style
    unbounded state is what forces _banded_signatures' gate; there is
    none here.

    The 128-expression aggregate is built as ONE SQL string parsed
    JVM-side: constructing it as 128 Column objects costs hundreds of
    py4j round-trips (~seconds of driver time per query build)."""
    idx = _shingle_index(df, id_col, shingles, distinct=False)
    hashed = idx.select("__id", F.xxhash64("__sh").alias("__h"))
    arr = (
        "array("
        + ",".join(f"min(xxhash64(`__h`, {i}))" for i in range(num_hashes))
        + ")"
    )
    sig = hashed.groupBy("__id").agg(F.expr(arr).alias("signature"))
    return sig.select(F.col("__id").alias(id_col), "signature")


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    num_hashes: int,
    bands: int,
    seed: int = 0x5EED,
) -> DataFrame:
    """(__id, band, bhash) rows: MinHash signatures fused with the
    banded fold in one Arrow-batched numpy stage.

    Shingles are still hashed once JVM-side (xxhash64 at the scan);
    the hash-family expansion — num_hashes multiply-add mixes + MIN
    per doc + the per-band fold — runs vectorized over uint64 numpy
    (wraparound is the mod-2^64 family; no ANSI overflow concern).
    Measured ~25% faster end-to-end than the 128-min-agg JVM
    formulation at sf0.1, and the plan no longer carries two
    128-expression strings. Deterministic: the family is drawn from a
    fixed-seed generator, so signatures are stable across runs and
    partitionings.
    """
    import numpy as np

    rows_per_band = num_hashes // bands
    rng = np.random.default_rng(seed)
    mult = rng.integers(1, 2**63, size=num_hashes, dtype=np.uint64) | np.uint64(1)
    add = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    fold_mult = np.uint64(0x9E3779B97F4A7C15)

    id_type = df.schema[id_col].dataType.simpleString()
    # Hash-prep formulation is SIZE-GATED, and the r10 x1000 reruns
    # produced the decisive verdict on both sides:
    # SMALL corpus — explode + hash + groupBy/collect_list: whole-stage
    # codegen end to end; the row-local transform lambda runs
    # interpreted and measured 3.3x slower at sf0.1 (3.2 s vs 0.97 s).
    # LARGE corpus — row-local F.transform(shingles, xxhash64):
    # MAP-ONLY. Not (only) for the shuffle it avoids, but for MEMORY:
    # collect_list is UNBOUNDED per-group aggregation state, and at
    # x1000 its hash map, concurrent with the verify join's two
    # wide-array-row SMJ sorts, OOM'd the 8 GB heap (UnsafeRow.copy
    # during shuffle write) — while this map-only shape holds one row's
    # arrays per task and ran 575.1 s, the fastest green q25 x1000
    # config measured. (Contrast minhash_signatures below, whose
    # explode form aggregates to FIXED 128-long state with map-side
    # partial combine — bounded, so it keeps explode at every scale.)
    # Signatures are bit-identical either way (MIN is order/duplicate-
    # insensitive); pinned by
    # test_banded_signature_formulations_identical.
    if placement.small_plan(df):
        idx = _shingle_index(df, id_col, shingles, distinct=False)
        hashed = idx.select(F.col("__id"), F.xxhash64("__sh").alias("__h"))
        grouped = hashed.groupBy("__id").agg(F.collect_list("__h").alias("__hs"))
    else:
        # empty/NULL-shingle docs are dropped inside _sig, matching
        # explode's behavior; no size()>0 filter here — Catalyst would
        # push it through the projection and re-run the tokenize
        # expression per row (the _per_doc_sets lesson)
        grouped = _spread(df).select(
            F.col(id_col).alias("__id"),
            F.transform(shingles, lambda x: F.xxhash64(x)).alias("__hs"),
        )

    def _sig(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["__id"].to_numpy()
            chunks = [
                np.asarray(hs if hs is not None else [], dtype=np.int64).view(np.uint64)
                for hs in pdf["__hs"]
            ]
            sizes = np.array([len(c) for c in chunks])
            if not sizes.all():
                # drop empty docs (reduceat cannot take a zero-length
                # segment; explode never yields them on the small path)
                keep = sizes > 0
                ids = ids[keep]
                chunks = [c for c in chunks if len(c)]
                if not len(chunks):
                    continue
            offsets = np.cumsum([0] + [len(c) for c in chunks])[:-1]
            H = np.concatenate(chunks)
            sig = np.empty((num_hashes, len(ids)), dtype=np.uint64)
            for i in range(num_hashes):
                sig[i] = np.minimum.reduceat(H * mult[i] + add[i], offsets)
            out_id, out_band, out_bh = [], [], []
            for b in range(bands):
                acc = np.zeros(len(ids), dtype=np.uint64)
                for r in range(rows_per_band):
                    acc = (acc * fold_mult) ^ sig[b * rows_per_band + r]
                out_id.append(ids)
                out_band.append(np.full(len(ids), b, dtype=np.int32))
                out_bh.append(acc.view(np.int64))
            yield pd.DataFrame(
                {
                    "__id": np.concatenate(out_id),
                    "band": np.concatenate(out_band),
                    "bhash": np.concatenate(out_bh),
                }
            )

    return grouped.mapInPandas(_sig, f"__id {id_type}, band int, bhash long")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    threshold: float = 0.5,
    num_hashes: int = 128,
    bands: int = 32,
    verify: bool = True,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH.

    Signatures are cut into `bands` bands of num_hashes/bands rows;
    docs agreeing on all rows of any band become candidates (one
    groupBy on (band_idx, band_hash) + in-bucket pair expansion —
    never a cross join, and the signature lineage executes exactly
    once; see _bucket_pairs). With r rows/band,
    P(candidate) = 1-(1-j^r)^bands, the usual S-curve centered near
    (1/bands)^(1/r). Candidates are then exact-verified against
    `threshold` when verify=True.

    Output: (id_a, id_b [, jaccard]).
    """
    assert num_hashes % bands == 0
    banded = _banded_signatures(df, id_col, shingles, num_hashes, bands)
    cand = _bucket_pairs(banded, ["band", "bhash"], F.col("__id")).withColumnsRenamed(
        {"a": "id_a", "b": "id_b"}
    )
    if not verify:
        return cand
    # Verify candidates only — O(candidates), never the full pair
    # space. Round-9 rework: the previous formulation melted each
    # pair and collect_list'ed the two full shingle ARRAYS per pair —
    # an ObjectHashAggregate over ~KB rows that profiling
    # (scripts/profile_q25.py) showed carries 100% of q25's x1000
    # spill (212 GB memory / 42 GB disk at 5M docs) while signature
    # computation spilled nothing. (A narrow-row exploded
    # per-(pair, shingle) count was tried and measured WORSE — 100M
    # group keys out-spill 1M wide rows.) The fix is the prefix
    # family's verifier: per-doc sorted-distinct sets built once
    # (doc-keyed aggregation — bounded rows, no spill), then TWO
    # streaming hash joins pair→sets with array_intersect in the
    # projection (_verify_pairs) — no pair-level aggregation at all;
    # Catalyst reuses the per-doc aggregate's exchange across the
    # a/b sides. Same exact integer (inter, sizes) → identical
    # jaccard doubles.
    big = not placement.small_plan(df)
    # shared=False at EVERY scale: the verify consumes per_doc twice
    # (a/b sides), and the map-only recompute beat both sharing
    # mechanisms in the x1000 A/Bs (575.1 s vs 721.3 s aggregation
    # form vs 825.7 s r9-shipped explicit exchange) — the pair side
    # dominates, and two map-only tokenize passes are cheaper than
    # any corpus-wide exchange of the set rows.
    # hashed shingles on the VERIFY side only (r11): the candidate set
    # comes from the UNCHANGED signature path (re-seeding the MinHash
    # input would change which near-threshold pairs LSH catches — the
    # query result); the exact verify is representation-independent,
    # so its sets/intersections move longs (see _hash_shingles).
    per_doc = _per_doc_sets(df, id_col, _hash_shingles(shingles), shared=False)
    verified = _verify_pairs(cand.select("id_a", "id_b"), per_doc, pin=big).withColumn(
        "jaccard",
        F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def md5_hash60() -> Column:
    """Portable 60-bit shingle hash: top 15 hex chars of md5(__sh).

    Unlike xxhash64 (Spark-only), md5 exists in every engine, so a
    simhash built on it is exactly replicable in an external SQL
    oracle (DuckDB: ('0x' || substr(md5(sh), 1, 15))::BIGINT).
    60 bits keeps the value < 2^60 — signed-long parity with no
    two's-complement games on either side.
    """
    return F.expr("cast(conv(substring(md5(__sh), 1, 15), 16, 10) as long)")


def simhash_table(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    bits: int = 64,
    hash_expr: Column | None = None,
) -> DataFrame:
    """(id, simhash) via the relational formulation.

    Explode shingles → hash once per shingle (xxhash64 by default;
    pass `hash_expr` over `__sh` — e.g. md5_hash60() — for a hash
    replicable outside Spark) → `bits` map-side-partial SUM(±1)
    aggregates per id → recombine bits. One shuffle on id; the
    per-bit work is flat column expressions (whole-stage codegen),
    not nested array folds whose generated code explodes at 64 bits.
    """
    idx = _shingle_index(df, id_col, shingles)
    hashed = idx.select("__id", (hash_expr if hash_expr is not None else F.xxhash64("__sh")).alias("__h"))
    # Single SQL strings (one parse JVM-side) instead of 64+64 Column
    # objects — see minhash_signatures on py4j round-trip cost.
    # shiftleft(1L, 63) is min-long, so the bit-63 term recombines the
    # sign bit without an overflowing 2^63 literal.
    bits_arr = (
        "array("
        + ",".join(f"sum(if((shiftright(`__h`, {i}) & 1L) = 1L, 1, -1))" for i in range(bits))
        + ")"
    )
    sums = hashed.groupBy("__id").agg(F.expr(bits_arr).alias("__bits"))
    sim = " + ".join(f"if(__bits[{i}] > 0, shiftleft(1L, {i}), 0L)" for i in range(bits))
    return sums.select("__id", F.expr(sim).alias("__sim"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    max_hamming: int = 3,
    blocks: int = 8,
    bits: int = 64,
    hash_expr: Column | None = None,
    key_arity: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the `bits`-bit hash into `blocks`
    chunks; any pair within hamming distance < blocks shares at least
    one exact chunk → one groupBy on (chunk_idx, chunk) + in-bucket
    pair expansion (single execution of the simhash lineage; see
    _bucket_pairs), then verify true hamming distance via
    bit_count(xor). Requires blocks > max_hamming for completeness
    (max_hamming differing bits can spoil at most max_hamming chunks,
    leaving one intact), so the result is EXACT — identical to the
    all-pairs hamming filter — not probabilistic.
    """
    sh = simhash_table(df, id_col, shingles, bits=bits, hash_expr=hash_expr)
    return hamming_pairs(
        sh, "__id", "__sim", max_hamming=max_hamming, blocks=blocks,
        bits=bits, key_arity=key_arity,
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    blocks: int = 8,
    bits: int = 64,
    key_arity: int | None = None,
) -> DataFrame:
    """EXACT pairs with hamming(hash) <= max_hamming over any
    precomputed `bits`-bit hash column (simhash, dHash/pHash, ...).

    Pigeonhole blocking, generalized to multi-block keys (Manku,
    Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    WWW 2007 §3): a pair within hamming distance k differs in at most
    k of the `blocks` chunks, so it agrees on >= blocks-k chunks —
    hence on SOME `key_arity`-subset of chunks whenever
    key_arity <= blocks - max_hamming. Keying buckets on every
    C(blocks, key_arity) chunk-combination therefore finds every
    qualifying pair (verified exactly via bit_count(xor)), while the
    bucket key widens from chunk_bits to key_arity*chunk_bits bits.
    key_arity=None (default) picks the LARGEST exact arity the
    distance budget allows — Manku's production setting — because
    wider keys are what keep buckets ~n/2^(arity*chunk_bits) and
    candidates linear (arity 1 degrades to O(n^2/256) per block;
    measured: OOM at 500k uniform hashes).

    EXACT-VALUE COLLAPSE (round 10): blocking runs over DISTINCT hash
    values, not rows. Real perceptual hashes are low-entropy — the
    round-9 sf1 certification OOM'd the 8 GB JVM on q99 exactly here:
    50k audio fingerprints quantized to ~15k distinct values whose
    hottest 8-bit block covered 24% of the corpus, so one arity-1
    bucket held ~12k rows and its C(k,2) in-row pair array was ~72M
    structs. Collapsing first (one groupBy on the hash: value ->
    sorted id list) makes bucket membership per distinct VALUE
    (measured 24x fewer candidates, 14x smaller hot bucket on the q99
    fixture), equal-value pairs expand from the id lists via a
    chunk-sharded join (their hamming is 0 by construction — no
    verification needed; see _EQUAL_FAMILY_CHUNK for why the
    expansion is sharded rather than in-row), and cross-value
    candidates verify ONE bit_count(xor) per value pair instead of
    per row pair. The collapse aggregation is also
    the single exchange every downstream consumer reuses, so the
    expensive upstream lineage (media decode!) executes exactly once
    (pinned by test_plan_quality).

    Output: (id_a, id_b, sim_a, sim_b, hamming), id_a < id_b.
    """
    import itertools

    assert bits % blocks == 0, "bits must divide evenly into blocks"
    chunk_bits = bits // blocks
    if key_arity is None:
        # widest exact arity whose combination fan-out stays sane:
        # C(blocks, arity) is rows-per-value in the blocking index AND
        # structs in the plan's key array — C(8,5)=56 (Manku's 64-bit
        # setting) is cheap, C(30,5)=142506 is a runaway plan. 128
        # keeps every standard geometry at its max-selectivity arity
        # while degenerate many-block configs fall back gracefully.
        from math import comb

        top = max(1, min(blocks - max_hamming, 62 // chunk_bits))
        key_arity = next(
            (a for a in range(top, 0, -1) if comb(blocks, a) <= 128), 1
        )
    assert key_arity >= 1
    assert blocks - key_arity >= max_hamming, (
        "need key_arity <= blocks - max_hamming for exactness"
    )
    assert key_arity * chunk_bits <= 62, "combined key must fit a long"
    combos = list(itertools.combinations(range(blocks), key_arity))

    def chunk(b: int) -> Column:
        return F.shiftright(F.col("__sim"), b * chunk_bits).bitwiseAND(
            F.lit((1 << chunk_bits) - 1)
        )

    def combo_key(c: tuple[int, ...]) -> Column:
        key = F.lit(0).cast("long")
        for pos, b in enumerate(c):
            key = key.bitwiseOR(
                F.shiftleft(chunk(b).cast("long"), pos * chunk_bits)
            )
        return key

    ids = df.select(F.col(id_col).alias("__id"), F.col(hash_col).alias("__sim"))
    # the collapse: one shuffle on the hash value; map-side partials
    # make exact-dup-heavy inputs cheap. This exchange is the reuse
    # point for all three consumers below.
    groups = ids.groupBy("__sim").agg(
        F.array_sort(F.collect_list("__id")).alias("__ids")
    )

    # (1) equal-value pairs: identical hashes are pairs at distance 0.
    # A family of m exact duplicates yields C(m,2) pairs; expanding
    # them as ONE in-row struct array puts the whole quadratic on a
    # single unsplittable row — the same bug class as the round-9 sf1
    # bucket-skew OOM, recreated for mass-duplicate families
    # (boilerplate pages, all-black frames: m can be millions in real
    # crawls). Instead stream them through the chunk-pair join (see
    # _chunked_pair_expand for the bounded-memory argument); the
    # monkeypatchable module constant keeps the chunk size testable.
    equal = _chunked_pair_expand(
        groups.filter(F.size("__ids") > 1), ["__sim"], chunk=_EQUAL_FAMILY_CHUNK
    ).select(
        F.col("a").alias("id_a"),
        F.col("b").alias("id_b"),
        F.col("__sim").alias("sim_a"),
        F.col("__sim").alias("sim_b"),
        F.lit(0).alias("hamming"),
    )

    # (2) candidate pairs of DISTINCT values via pigeonhole buckets
    chunks = groups.select(
        "__sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("chunk_idx"),
                        combo_key(c).alias("chunk"),
                    )
                    for ci, c in enumerate(combos)
                ]
            )
        ).alias("cc"),
    ).select("__sim", "cc.chunk_idx", "cc.chunk")
    vpairs = (
        _bucket_pairs(chunks, ["chunk_idx", "chunk"], F.col("__sim"))
        .select(F.col("a").alias("__va"), F.col("b").alias("__vb"))
        .withColumn("hamming", F.bit_count(F.col("__va").bitwiseXOR(F.col("__vb"))))
        .filter(F.col("hamming") <= max_hamming)
    )

    # (3) expand matched value pairs back to id pairs; sims follow
    # their ids through the least/greatest reorder
    a_ids = groups.select(F.col("__sim").alias("__va"), F.col("__ids").alias("__ids_a"))
    b_ids = groups.select(F.col("__sim").alias("__vb"), F.col("__ids").alias("__ids_b"))
    cross = (
        vpairs.join(a_ids, "__va")
        .join(b_ids, "__vb")
        .select("__va", "__vb", "hamming", F.explode("__ids_a").alias("__xa"), "__ids_b")
        .select("__va", "__vb", "hamming", "__xa", F.explode("__ids_b").alias("__xb"))
        .select(
            F.least("__xa", "__xb").alias("id_a"),
            F.greatest("__xa", "__xb").alias("id_b"),
            F.when(F.col("__xa") < F.col("__xb"), F.col("__va"))
            .otherwise(F.col("__vb"))
            .alias("sim_a"),
            F.when(F.col("__xa") < F.col("__xb"), F.col("__vb"))
            .otherwise(F.col("__va"))
            .alias("sim_b"),
            "hamming",
        )
    )
    return equal.unionByName(cross)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact containment-similar pairs: C(a,b) = |a∩b| / min(|a|,|b|).

    The asymmetric near-dup criterion jaccard misses: a short document
    wholly embedded in a long one scores jaccard ≈ |short|/|long| (low)
    but containment 1.0. Standard companion to jaccard in corpus dedup
    (Broder's resemblance/containment pair, "On the resemblance and
    containment of documents", 1997).

    Same single-lineage inverted-index plan as jaccard_pairs (shared
    code path — one extra map-side column); same stop-shingle guard.
    Output: (id_a, id_b, inter, size_a, size_b, containment), id_a < id_b.
    """
    base = jaccard_pairs(
        df, id_col, shingles, threshold=0.0, max_shingle_freq=max_shingle_freq
    )
    return (
        base.withColumn(
            "containment", F.col("inter") / F.least(F.col("size_a"), F.col("size_b"))
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "inter", "size_a", "size_b", "containment")
    )


def shared_shingle_stats(df: DataFrame, id_col: str, shingles: Column) -> DataFrame:
    """Per-document cross-corpus duplication signal (the C4/RefinedWeb
    global-dedup scrub statistic): for each document, the fraction of
    its distinct shingles that also occur in at least one OTHER
    document. Unlike the pairwise jaccard family this never forms
    pairs — it answers "how much of this doc is boilerplate shared
    with the rest of the corpus" in two shuffles regardless of how
    many documents share the shingle.

    Plan: explode distinct shingles -> per-shingle document frequency
    as a COUNT window partitioned by shingle (one hash shuffle; no
    aggregate-then-join round trip, and no chance of the planner
    broadcasting a huge post-agg side — the x100 OOM lesson) ->
    per-doc ratio (second shuffle). At 100 TB the shingle key space is
    bounded by a df-cap stop-shingle list exactly like
    jaccard_pairs_prefix's (a shingle shared by millions of docs
    carries no signal beyond "shared": cap its count, keep the flag).

    Output: (id_col, n_shingles, n_shared, shared_frac), one row per
    input document — including documents whose shingle array is NULL
    or empty (n_shingles=0, shared_frac NULL). Within-doc repeats are
    collapsed with array_distinct before the explode so a shingle
    repeated inside ONE document never counts as cross-corpus shared
    (ADVICE r4 contract fix; callers passing already-distinct arrays
    like word_ngrams are unaffected).
    """
    from pyspark.sql import Window

    ex = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(shingles)).alias("__sh"),
    )
    with_df = ex.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("__sh")))
    stats = with_df.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("__df") > 1).cast("long")).alias("n_shared"),
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .distinct()
        .join(stats, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias("shared_frac"),
        )
    )
