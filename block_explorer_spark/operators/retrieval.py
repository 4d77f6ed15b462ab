"""Keyword retrieval: inverted index + BM25 top-k ranking.

The curation stack needs keyword search the same way it needs ANN —
decontamination audits ("which training docs mention this benchmark
phrase"), targeted sampling, and eyeball queries over a 100 TB corpus
all start from an inverted index, not a full-text scan. This is the
standard Robertson/Spärck Jones BM25 (Okapi, TREC-3 1994), organized
Spark-first:

  * the index is a (token, doc_id, tf) table — built with one
    explode + groupBy whose shuffle carries one row per (doc, term)
    occurrence class, and for a QUERY-scoped build the token filter
    is applied BEFORE the shuffle, so cost ∝ matching postings, not
    corpus size;
  * document lengths are a map-side projection (no shuffle);
  * idf and avgdl are |terms|+1 bounded scalars, computed ONCE in
    Python and injected as literals — BM25's only transcendental
    (ln) never runs inside either engine, so a SQL oracle fed the
    same literals is bit-exact: everything left is IEEE + * /,
    summed in a FIXED term order (float addition is not
    associative; the per-term pivot keeps both engines adding in
    the same order).

Determinism: ties in score break by doc_id; tokenization is the
repo-wide lowercased whitespace split (functions/text.py::tokens —
the construction every certified text gate already replays in SQL).
The tokenizer is pluggable at index-build time if a deployment wants
punctuation-stripping or BPE units instead.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from block_explorer_spark.functions import text as Tx


def tokenize(text_col: str) -> "F.Column":
    """Lower-case whitespace split of trimmed text, empties removed."""
    return F.filter(Tx.tokens(F.col(text_col)), lambda t: t != "")


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: list[str] | None = None,
) -> DataFrame:
    """(token, doc_id, tf) postings. With `terms`, the filter runs
    BEFORE the groupBy shuffle (only matching postings move); without,
    it is the full index build you would persist (z-order or
    range-partition by token for point-lookup file pruning)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(text_col)).alias("token"),
    )
    if terms is not None:
        toks = toks.filter(F.col("token").isin(list(terms)))
    return toks.groupBy("token", "doc_id").agg(F.count("*").alias("tf"))


def corpus_stats(
    docs: DataFrame, id_col: str, text_col: str, terms: list[str]
) -> tuple[int, float, dict[str, int]]:
    """(N, avgdl, {term: df}) in ONE aggregate pass over a map-side
    projection — |terms| + 2 scalars to the driver. avgdl is an exact
    integer sum divided once (no float accumulation order issues)."""
    base = docs.select(
        F.size(tokenize(text_col)).alias("dl"),
        tokenize(text_col).alias("toks"),
    )
    row = base.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count_if(F.array_contains("toks", t)).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ],
    ).collect()[0]
    n = row["n"]
    avgdl = (row["sum_dl"] or 0) / n if n else 0.0
    dfs = {t: row[f"df_{i}"] for i, t in enumerate(terms)}
    return n, avgdl, dfs


def idf_weights(n: int, dfs: dict[str, int]) -> dict[str, float]:
    """BM25 idf with the +1 floor variant (Lucene's): always
    positive, so a term in most docs still contributes. Computed in
    Python so the oracle can be handed the identical double."""
    return {
        t: math.log(1.0 + (n - df + 0.5) / (df + 0.5)) for t, df in dfs.items()
    }


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
    stats: tuple[int, float, dict[str, int]] | None = None,
) -> DataFrame:
    """Top-k docs by BM25(terms). Plan shape: postings filtered before
    their shuffle, per-term scores pivoted to columns and summed in
    FIXED term order, TakeOrderedAndProject for the top-k (per-
    partition heads, no global sort). Returns (doc_id, score)."""
    if not terms:
        raise ValueError("bm25_topk needs at least one term")
    n, avgdl, dfs = stats if stats is not None else corpus_stats(
        docs, id_col, text_col, terms
    )
    idf = idf_weights(n, dfs)
    post = inverted_index(docs, id_col, text_col, terms=terms)
    dl = docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokenize(text_col)).alias("dl")
    )
    # pivot tf per term so the score sum has one fixed evaluation order
    pivoted = post.groupBy("doc_id").pivot("token", list(terms)).sum("tf")
    scored = pivoted.join(dl, "doc_id")
    norm = F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    score = F.lit(0.0)
    for t in terms:  # fixed left-to-right order, same as the oracle
        tf = F.coalesce(F.col(f"`{t}`").cast("double"), F.lit(0.0))
        score = score + F.lit(idf[t]) * (
            tf * F.lit(k1 + 1.0) / (tf + norm)
        )
    return (
        scored.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topk)
    )


def positional_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: list[str] | None = None,
) -> DataFrame:
    """(token, doc_id, pos) positional postings — the structure phrase
    and proximity queries need. Same query-scoped pre-shuffle filter
    as inverted_index; positions are 0-based token offsets."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize(text_col)).alias("pos", "token"),
    )
    if terms is not None:
        toks = toks.filter(F.col("token").isin(list(terms)))
    return toks.select("token", "doc_id", F.col("pos").cast("long").alias("pos"))


def _phrase_chain(post: DataFrame, phrase: list[str]) -> DataFrame:
    """The phrase adjacency join over a (token, doc_id, pos) frame:
    chain each word's positions on (doc_id, pos == p0 + offset). All
    joins share the doc_id key, so they co-locate after the first
    shuffle; each side is filtered to ONE term's postings before it
    shuffles. Shared by the batch path (postings built from the
    corpus) and the indexed path (postings read from the pruned
    `positions` family) — one plan, two feeders."""
    cur = (
        post.filter(F.col("token") == phrase[0])
        .select("doc_id", F.col("pos").alias("p0"))
    )
    for i, w in enumerate(phrase[1:], start=1):
        nxt = post.filter(F.col("token") == w).select(
            "doc_id", F.col("pos").alias(f"p{i}")
        )
        cur = cur.join(nxt, "doc_id").filter(
            F.col(f"p{i}") == F.col("p0") + i
        )
    return cur.groupBy("doc_id").agg(F.count("*").alias("n_occurrences"))


def _proximity_pairs(
    post: DataFrame, term_a: str, term_b: str, window: int
) -> DataFrame:
    """The proximity pair count over a (token, doc_id, pos) frame —
    one doc_id-keyed join, |pos_a − pos_b| ≤ window residual. Shared
    by the batch and indexed feeders like `_phrase_chain`."""
    pa = post.filter(F.col("token") == term_a).select(
        "doc_id", F.col("pos").alias("pa")
    )
    pb = post.filter(F.col("token") == term_b).select(
        "doc_id", F.col("pos").alias("pb")
    )
    pairs = pa.join(pb, "doc_id").filter(
        (F.abs(F.col("pa") - F.col("pb")) <= window)
        & (F.col("pa") != F.col("pb"))
    )
    return pairs.groupBy("doc_id").agg(F.count("*").alias("n_pairs"))


def phrase_match(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs containing the exact token phrase, with occurrence counts:
    chain the positional postings of each phrase word on
    (doc_id, pos == first_pos + offset). Every join is keyed on
    doc_id — after the first shuffle the rest co-locate — and each
    side was filtered to ONE term's postings before shuffling, so
    cost ∝ the rarest-term posting volume, not the corpus. Returns
    (doc_id, n_occurrences)."""
    if len(phrase) < 2:
        raise ValueError("phrase_match needs >= 2 tokens")
    post = positional_index(docs, id_col, text_col, terms=list(set(phrase)))
    return _phrase_chain(post, phrase)


def proximity_match(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs where the two terms co-occur within `window` token
    positions (unordered), with the pair count — the relaxed cousin of
    phrase_match for "benchmark name near answer string" decontam
    sweeps. Same plan shape: each term's postings filtered before the
    shuffle, one doc_id-keyed join, |pos_a − pos_b| ≤ window as the
    residual condition. Returns (doc_id, n_pairs)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    post = positional_index(docs, id_col, text_col, terms=[term_a, term_b])
    return _proximity_pairs(post, term_a, term_b, window)


# ---------------------------------------------------------------------------
# Persisted postings index — the serving path at corpus scale
# ---------------------------------------------------------------------------


#: MaxScore's default bound on the postings behind a broadcast doc
#: set: its θ seed and its candidate set are broadcast onto the
#: pruned postings only while their Σdf stays at or under this count,
#: and shuffled beyond it. A common term (a stopword in a
#: decontamination sweep) has df ≈ corpus size; broadcasting that is
#: O(corpus) on every executor.
BM25_BROADCAST_LIMIT = 1_000_000

#: Manifest family holding per-token posting extremes — (token,
#: max_tf, min_dl) — the auxiliary structure MaxScore-style pruning
#: needs (Turtle & Flood, IP&M 1995; Lucene stores the same idea as
#: per-block "impacts"). Deliberately avgdl-INDEPENDENT: the bound
#: g(tf, dl) = tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) is increasing in
#: tf and decreasing in dl, so max_tf/min_dl upper-bound it under the
#: CURRENT corpus avgdl at query time, and an append just adds rows
#: (the reader folds max/min) — the stored extremes never go stale
#: when Σdl shifts.
TERMMAX = "termmax"

#: Manifest family holding positional postings — (token, doc_id,
#: pos) token-range-partitioned and token-sorted like the postings,
#: so a phrase/proximity query prunes each word to its covering
#: files exactly the way a BM25 term does. The positional analog of
#: Lucene's .pos file, stored relationally.
POSITIONS = "positions"

#: Manifest family holding deleted documents — (doc_id, dl) rows.
#: A delete cannot rewrite the token-partitioned postings (one doc's
#: rows are scattered across every token range), so it lands as a
#: TOMBSTONE the serving paths anti-join away — Lucene's live-docs
#: bitmap, stored relationally. Corpus totals (n, Σdl) decrement
#: EXACTLY at delete time from the doclen rows; `index_purge` folds
#: tombstones back into physical deletion on its own cadence.
TOMBSTONES = "tombstones"


def _bm25_meta(m: dict, base: str) -> dict:
    """The committed bm25 meta of snapshot `m`, checked to be the one
    index shape every reader and writer serves: dl in every posting
    row and a termmax family. An index an earlier round wrote without
    either raises, naming `migrate`; nothing falls back to a
    doc-length join or a static bound."""
    meta = m.get("meta", {}).get("bm25")
    if not meta:
        raise FileNotFoundError(f"no bm25 index committed under {base}")
    if not meta.get("dl_in_postings") or TERMMAX not in m.get("families", {}):
        raise RuntimeError(
            f"bm25 index at {base} predates dl in the postings or the "
            f"{TERMMAX} family; run retrieval.migrate(spark, base) once"
        )
    return meta


def _term_extremes(post_with_dl: DataFrame) -> DataFrame:
    """(token, max_tf, min_dl) over dl-carrying postings — one row
    per distinct token, token-zone-prunable like the postings files."""
    return post_with_dl.groupBy("token").agg(
        F.max("tf").alias("max_tf"), F.min("dl").alias("min_dl")
    )


def _postings_with_dl(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(token, doc_id, tf, dl) postings in ONE shuffle: dl is carried
    through the explode and grouped alongside doc_id (it is
    functionally dependent on it, so the key cardinality is identical
    to the plain postings groupBy) — no join in the build path."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize(text_col)).alias("dl"),
        F.explode(tokenize(text_col)).alias("token"),
    )
    return (
        toks.groupBy("token", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .select("token", "doc_id", "tf", "dl")
    )


def write_postings_index(
    docs: DataFrame,
    base: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_files: int = 32,
    positions: bool = False,
) -> int:
    """Persist the full inverted index + doc lengths behind the
    manifest commit log (sources/manifest.py): postings range-
    partitioned and sorted BY TOKEN, so every file's token [min, max]
    zone is tight and a query term prunes to the one-or-two files
    whose range covers it — the text analog of the vector store's
    IVF cells. Corpus totals (N, Σdl) ride in the manifest meta as
    exact integers. Postings + lengths + stats publish in ONE CAS
    swap, so a reader can never see them desynced. Returns the
    committed version.

    Each posting row carries its document's length, so the serving
    path needs NO doc-length join at all — the join was the residual
    growth term in the indexed curve (SCALE.md) and, for common
    terms, an unbounded broadcast. dl is one long repeated
    ~unique-terms-per-doc times: cheap next to the postings
    themselves. The doclen family is still committed: deletes read
    the doomed docs' lengths from it, and the CDC consumer checks
    re-inserted ids against it. The `termmax` family (per-token
    extremes for MaxScore) commits in the same swap.

    The meta commit MERGES the current manifest meta per CAS attempt
    — committing an index into a base that also carries a z-order
    layout must not clobber `meta["zorder"]` (and vice versa).

    With `positions`, a `positions` family — (token, doc_id, pos),
    token-range-partitioned and sorted like the postings — commits in
    the SAME swap, giving phrase/proximity queries the same pruned
    serving path BM25 has (Lucene stores the analogous structure as
    its .pos file). It is opt-in because positions are the one index
    component whose size is Σdl (one row per token OCCURRENCE), vs
    the postings' one row per (doc, term) class.

    Measured (SCALE_CURVE `bm25_indexed`): the probe answers a 3-term
    query near-flat across four decades of corpus growth while the
    batch path grows linearly — this is why the index exists."""
    from block_explorer_spark.sources import manifest as M

    dl = docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokenize(text_col)).alias("dl")
    )
    post = _postings_with_dl(docs, id_col, text_col)
    clustered = post.repartitionByRange(num_files, "token").sortWithinPartitions(
        "token"
    )
    row = dl.agg(F.count("*").alias("n"), F.sum("dl").alias("sum_dl")).collect()[0]
    bm25 = {
        "n": int(row["n"]),
        "sum_dl": int(row["sum_dl"] or 0),
        "dl_in_postings": True,
        "tail": [],
    }
    if positions:
        bm25["positional"] = True
        bm25["ptail"] = []

    def attempt(snap, stage):
        fams = dict(snap["families"])
        fams["postings"] = stage.df(clustered, "postings")
        fams["doclen"] = stage.df(dl, "doclen")
        if positions:
            pos = positional_index(docs, id_col, text_col)
            fams[POSITIONS] = stage.df(
                pos.repartitionByRange(num_files, "token").sortWithinPartitions(
                    "token", "doc_id", "pos"
                ),
                POSITIONS,
            )
        fams[TERMMAX] = stage.df(
            _term_extremes(post).repartitionByRange(
                max(1, num_files // 8), "token"
            ).sortWithinPartitions("token"),
            TERMMAX,
        )
        meta = dict(snap["meta"])
        meta["bm25"] = bm25
        return snap["version"] + 1, {
            "families": fams,
            "meta": meta,
            "stats": M.file_stats(base, stage.rels, ["token"]),
        }

    return M.transact(base, attempt)


def index_append(
    docs: DataFrame,
    base: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_files: int = 4,
    bm25_meta_patch: dict | None = None,
) -> int:
    """Fold a delta of NEW documents into the committed index without
    rebuilding it — the daily-crawl path. Cost ∝ delta: the delta's
    postings are tokenized, token-sorted, and staged as an LSM-style
    TAIL alongside the bulk run; no bulk file is read or rewritten.
    Corpus totals fold exactly (n += Δn, Σdl += Δdl). The tail files
    carry token zone maps like any other postings file, so serving
    prunes them per term identically; `index_maintain` periodically
    merges the tail into larger sorted runs.

    Contract: doc_ids in the delta must be NEW (append-only corpus —
    the same contract the corpus store's ingest holds). A re-ingested
    doc_id would duplicate (token, doc_id) rows and double-count tf.
    Returns the committed version."""
    import os as _os

    from block_explorer_spark.sources import manifest as M

    dl = docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokenize(text_col)).alias("dl")
    )
    post = _postings_with_dl(docs, id_col, text_col)
    clustered = post.repartitionByRange(num_files, "token").sortWithinPartitions(
        "token"
    )
    row = dl.agg(F.count("*").alias("n"), F.sum("dl").alias("sum_dl")).collect()[0]
    dn, dsum = int(row["n"]), int(row["sum_dl"] or 0)

    def attempt(snap, stage):
        bm25 = dict(_bm25_meta(snap, base))
        fams = dict(snap["families"])
        if fams.get(TOMBSTONES):
            # a tombstoned doc_id re-appended would be silently hidden
            # by its own tombstone — reject loudly; run index_purge first
            dead = docs.sparkSession.read.parquet(
                *[_os.path.join(base, r) for r in fams[TOMBSTONES]]
            ).select("doc_id")
            clash = (
                docs.select(F.col(id_col).alias("doc_id"))
                .join(dead, "doc_id")
                .limit(1)
                .count()
            )
            if clash:
                raise ValueError(
                    "index_append delta contains tombstoned doc_ids; doc_ids "
                    "are append-only — purge (index_purge) before reusing ids"
                )
        prels = stage.df(clustered, "postings")
        fams["postings"] = fams.get("postings", []) + prels
        fams["doclen"] = fams.get("doclen", []) + stage.df(dl, "doclen")
        bm25["n"] = int(bm25["n"]) + dn
        bm25["sum_dl"] = int(bm25["sum_dl"]) + dsum
        bm25["tail"] = list(bm25.get("tail", [])) + prels
        if bm25.get("positional"):
            pos = positional_index(docs, id_col, text_col)
            xrels = stage.df(
                pos.repartitionByRange(num_files, "token").sortWithinPartitions(
                    "token", "doc_id", "pos"
                ),
                POSITIONS,
            )
            fams[POSITIONS] = fams.get(POSITIONS, []) + xrels
            bm25["ptail"] = list(bm25.get("ptail", [])) + xrels
        # extremes fold by max/min, so the delta's rows just join the
        # family — the reader aggregates across runs.
        fams[TERMMAX] = fams.get(TERMMAX, []) + stage.df(
            _term_extremes(post).coalesce(1).sortWithinPartitions("token"),
            TERMMAX,
        )
        if bm25_meta_patch:
            # rides in the SAME CAS swap as the postings — a CDC
            # consumer's watermark can never be seen without its batch,
            # or the batch without it
            bm25.update(bm25_meta_patch)
        meta = dict(snap["meta"])
        meta["bm25"] = bm25
        return snap["version"] + 1, {
            "families": fams,
            "meta": meta,
            "stats": M.file_stats(base, stage.rels, ["token"]),
        }

    return M.transact(base, attempt)


def index_maintain(
    spark: SparkSession,
    base: str,
    min_tail_files: int = 8,
    num_files: int | None = None,
) -> int | None:
    """Merge the accumulated append tail into one token-sorted run —
    the OPTIMIZE cadence for the postings index. Reads ONLY the tail
    files (cost ∝ appended data, never the bulk run), re-range-
    partitions them by token, and swaps tail → merged files in one
    CAS commit. No-op (returns None) below `min_tail_files`. Scores
    are layout-independent, so serving results are bit-identical
    before and after (pinned in test_retrieval)."""
    import os as _os

    from block_explorer_spark.sources import manifest as M

    if len(_bm25_meta(M.read(base), base).get("tail", [])) < min_tail_files:
        return None

    def attempt(snap, stage):
        bm25 = dict(_bm25_meta(snap, base))
        tail = list(bm25.get("tail", []))
        ptail = list(bm25.get("ptail", []))
        if len(tail) < min_tail_files:
            return None, None  # another maintain folded it first
        fams = dict(snap["families"])
        df = spark.read.parquet(*[_os.path.join(base, r) for r in tail])
        nf = num_files or max(1, len(tail) // 4)
        merged = df.repartitionByRange(nf, "token").sortWithinPartitions("token")
        fams["postings"] = [
            r for r in fams["postings"] if r not in set(tail)
        ] + stage.df(merged, "postings")
        bm25["tail"] = []
        if ptail:
            # fold the positional tail in the same OPTIMIZE pass —
            # cost ∝ appended positions, the bulk run is untouched
            pdf = spark.read.parquet(*[_os.path.join(base, r) for r in ptail])
            pm = pdf.repartitionByRange(
                max(1, len(ptail) // 4), "token"
            ).sortWithinPartitions("token", "doc_id", "pos")
            fams[POSITIONS] = [
                r for r in fams[POSITIONS] if r not in set(ptail)
            ] + stage.df(pm, POSITIONS)
            bm25["ptail"] = []
        meta = dict(snap["meta"])
        meta["bm25"] = bm25
        return snap["version"] + 1, {
            "families": fams,
            "meta": meta,
            "stats": M.file_stats(base, stage.rels, ["token"]),
        }

    return M.transact(base, attempt)


def _live_postings(spark: SparkSession, base: str, m: dict, post: DataFrame) -> DataFrame:
    """Anti-join the tombstone family away from a postings/positions
    read. No forced broadcast: the tombstone set grows with deletes
    until `index_purge` folds it, so AQE picks broadcast vs shuffle
    from its actual size."""
    import os as _os

    rels = m.get("families", {}).get(TOMBSTONES) or []
    if not rels:
        return post
    dead = spark.read.parquet(
        *[_os.path.join(base, r) for r in rels]
    ).select("doc_id")
    return post.join(dead, "doc_id", "left_anti")


#: Schema of a postings row: dl rides in every row (`_bm25_meta`).
_POSTINGS = "token string, doc_id long, tf long, dl long"


def _read_pruned(
    spark: SparkSession,
    base: str,
    m: dict,
    family: str,
    terms: list[str],
    empty: str,
) -> DataFrame:
    """The family's live rows for `terms` in snapshot `m`: only files
    whose token zone covers a term are read (manifest pruning — never
    a corpus scan) and tombstoned docs are anti-joined away. An empty
    frame of schema `empty` when no file covers any term."""
    import os as _os

    from block_explorer_spark.sources import manifest as M

    keep = sorted(
        {r for t in terms for r in M.prune_by_stats(m, family, "token", lo=t, hi=t)}
    )
    if not keep:
        return spark.createDataFrame([], empty)
    post = spark.read.parquet(*[_os.path.join(base, r) for r in keep])
    return _live_postings(
        spark, base, m, post.filter(F.col("token").isin(list(terms)))
    )


def index_patch_meta(base: str, patch: dict) -> int:
    """Meta-only CAS commit folding `patch` into the bm25 meta —
    the watermark-advance a CDC consumer needs when a feed window
    carried no effective index change (all-absent deletes,
    maintenance-only commits)."""
    from block_explorer_spark.sources import manifest as M


    def attempt(snap, _stage):
        meta = dict(snap["meta"])
        meta["bm25"] = {**_bm25_meta(snap, base), **patch}
        return snap["version"] + 1, {"families": snap["families"], "meta": meta}

    return M.transact(base, attempt)


def index_delete(
    spark: SparkSession,
    base: str,
    doc_ids: DataFrame,
    bm25_meta_patch: dict | None = None,
) -> int | None:
    """Delete documents from the committed index — the RTBF/GDPR path
    search cannot ship without. The token-partitioned layout scatters
    one document across every token range, so physical rewrite-on-
    delete would cost the whole index; instead the doc_ids land as a
    TOMBSTONE family (the Lucene live-docs idea) and every serving
    path anti-joins them away BEFORE df counting — so idf, scores,
    phrase hits, vocabulary stats all match an index rebuilt from the
    surviving corpus bit for bit (q140 certifies exactly that).

    Corpus totals fold exactly at delete time: the deleted docs'
    (doc_id, dl) rows come from the committed doclen family, so
    n -= |deleted ∩ corpus| and Σdl -= Σ their dl — absent doc_ids
    and re-deletes are no-ops (semi-join + anti-join vs existing
    tombstones). termmax extremes may still cite deleted docs; a
    stale max_tf/min_dl only LOOSENS the MaxScore bound, never
    breaks exactness. One CAS commit; returns the version, or None
    when nothing new was deleted."""
    import os as _os

    from block_explorer_spark.sources import manifest as M

    ids = doc_ids.select(F.col(doc_ids.columns[0]).alias("doc_id")).distinct()

    def attempt(snap, stage):
        bm25 = dict(_bm25_meta(snap, base))
        fams = dict(snap["families"])
        dead = spark.read.parquet(
            *[_os.path.join(base, r) for r in fams["doclen"]]
        ).join(ids, "doc_id")
        if fams.get(TOMBSTONES):
            already = spark.read.parquet(
                *[_os.path.join(base, r) for r in fams[TOMBSTONES]]
            ).select("doc_id")
            dead = dead.join(already, "doc_id", "left_anti")
        row = dead.agg(
            F.count("*").alias("dn"), F.sum("dl").alias("dsum")
        ).collect()[0]
        dn, dsum = int(row["dn"]), int(row["dsum"] or 0)
        if dn == 0:
            return None, None
        fams[TOMBSTONES] = fams.get(TOMBSTONES, []) + stage.df(
            dead.coalesce(1), TOMBSTONES
        )
        bm25["n"] = int(bm25["n"]) - dn
        bm25["sum_dl"] = int(bm25["sum_dl"]) - dsum
        if bm25_meta_patch:
            # rides the SAME CAS swap — a CDC consumer's watermark can
            # never be seen without its deletes
            bm25.update(bm25_meta_patch)
        meta = dict(snap["meta"])
        meta["bm25"] = bm25
        return snap["version"] + 1, {"families": fams, "meta": meta}

    return M.transact(base, attempt)


def index_purge(
    spark: SparkSession,
    base: str,
    num_files: int | None = None,
) -> int | None:
    """Fold tombstones into physical deletion — the compaction
    cadence that bounds the anti-join cost deletes accrue. Rewrites
    postings (and positions, when present) and doclen WITHOUT the
    tombstoned docs, recomputes termmax from the surviving postings,
    clears the tombstone family — one CAS swap; meta totals are
    untouched (they folded at delete time). Cost ∝ the index, which
    is exactly why deletes don't pay it inline. Serving is
    bit-identical before and after (pinned in tests). No-op (None)
    without tombstones."""
    import os as _os

    from block_explorer_spark.sources import manifest as M

    def attempt(snap, stage):
        bm25 = dict(_bm25_meta(snap, base))
        fams = dict(snap["families"])
        trels = fams.pop(TOMBSTONES, None)
        if not trels:
            return None, None
        dead = spark.read.parquet(
            *[_os.path.join(base, r) for r in trels]
        ).select("doc_id")
        nf = num_files or max(1, len(fams["postings"]))
        post = spark.read.parquet(
            *[_os.path.join(base, r) for r in fams["postings"]]
        ).join(dead, "doc_id", "left_anti")
        prels = stage.df(
            post.repartitionByRange(nf, "token").sortWithinPartitions("token"),
            "postings",
        )
        dl = spark.read.parquet(
            *[_os.path.join(base, r) for r in fams["doclen"]]
        ).join(dead, "doc_id", "left_anti")
        fams["doclen"] = stage.df(dl, "doclen")
        if fams.get(POSITIONS):
            pos = spark.read.parquet(
                *[_os.path.join(base, r) for r in fams[POSITIONS]]
            ).join(dead, "doc_id", "left_anti")
            fams[POSITIONS] = stage.df(
                pos.repartitionByRange(nf, "token").sortWithinPartitions(
                    "token", "doc_id", "pos"
                ),
                POSITIONS,
            )
        ext = _term_extremes(
            spark.read.parquet(*[_os.path.join(base, r) for r in prels])
        )
        fams["postings"] = prels
        fams[TERMMAX] = stage.df(ext.coalesce(1).sortWithinPartitions("token"), TERMMAX)
        # the rewrite is one sorted run: no append tail survives it
        bm25["tail"] = []
        if "ptail" in bm25:
            bm25["ptail"] = []
        meta = dict(snap["meta"])
        meta["bm25"] = bm25
        return snap["version"] + 1, {
            "families": fams,
            "meta": meta,
            "stats": M.file_stats(base, stage.rels, ["token"]),
        }

    return M.transact(base, attempt)


def _score_postings(
    post: DataFrame,
    terms: list[str],
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
) -> tuple[DataFrame, "F.Column"]:
    """Scoring over the postings (dl rides in every row):
    each posting's score CONTRIBUTION — idf_t · tf·(k1+1)/(tf +
    norm(dl)), the exact per-term expression the batch path evaluates
    — is computed JVM-side BEFORE the shuffle; the pivot then moves
    one double per posting (vs tf+dl) and groups by doc_id alone.
    Each (doc_id, token) is unique by the index contract, so the
    pivot's sum is a singleton (no float accumulation), and the final
    column sum runs in the same fixed left-to-right term order as
    bm25_topk — scores stay bit-identical, with ZERO joins for any
    term df. Per-doc arithmetic is independent of which OTHER docs
    are present, which is what lets the MaxScore path score only its
    candidate set and still match the full evaluation bit for bit.
    Returns (pivoted frame, score Column over it)."""
    norm_row = F.lit(k1) * (
        F.lit(1 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    idf_col = F.lit(None).cast("double")
    for t in terms:
        idf_col = F.when(F.col("token") == t, F.lit(idf[t])).otherwise(idf_col)
    tf_row = F.col("tf").cast("double")
    contrib = idf_col * (tf_row * F.lit(k1 + 1.0) / (tf_row + norm_row))
    scored = (
        post.withColumn("__c", contrib)
        .groupBy("doc_id")
        .pivot("token", list(terms))
        .sum("__c")
    )
    score = F.lit(0.0)
    for t in terms:
        score = score + F.coalesce(F.col(f"`{t}`"), F.lit(0.0))
    return scored, score


def bm25_search_indexed(
    spark: SparkSession,
    base: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
) -> DataFrame:
    """BM25 top-k served FROM the persisted index: each term's
    postings come from the files whose token zone covers it (manifest
    pruning — never a corpus scan) and df per term is a count over
    those bounded postings. dl rides in every posting row, so there
    is NO doc-length join at all — the plan is scan → pivot-aggregate
    → TakeOrderedAndProject, for ANY term df. Scores are
    bit-identical to the batch `bm25_topk` — same Python-computed idf
    and avgdl, same fixed-order IEEE arithmetic (pinned in
    test_retrieval)."""
    from block_explorer_spark.sources import manifest as M

    if not terms:
        raise ValueError("bm25_search_indexed needs at least one term")
    m = M.read(base)
    meta = _bm25_meta(m, base)
    n, avgdl = meta["n"], (meta["sum_dl"] / meta["n"] if meta["n"] else 0.0)
    post = _read_pruned(spark, base, m, "postings", terms, _POSTINGS)
    dfs = {
        r["token"]: r["df"]
        for r in post.groupBy("token").agg(F.count("*").alias("df")).collect()
    }
    idf = idf_weights(n, {t: int(dfs.get(t, 0)) for t in terms})
    scored, score = _score_postings(post, terms, idf, avgdl, k1, b)
    return (
        scored.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topk)
    )


def _read_positions(
    spark: SparkSession, base: str, terms: list[str]
) -> DataFrame:
    """(token, doc_id, pos) for the given terms, read from the pruned
    `positions` family: each term keeps only the files whose token
    zone covers it — a phrase over rare words opens a handful of
    files however large the corpus. Raises when the index was built
    without `positions=True`."""
    from block_explorer_spark.sources import manifest as M

    m = M.read(base)
    bmeta = m.get("meta", {}).get("bm25") or {}
    if not bmeta.get("positional") or not m.get("families", {}).get(POSITIONS):
        raise FileNotFoundError(
            f"no positional family committed under {base}; "
            "write_postings_index(..., positions=True)"
        )
    return _read_pruned(
        spark, base, m, POSITIONS, terms, "token string, doc_id long, pos long"
    )


def phrase_search_indexed(
    spark: SparkSession, base: str, phrase: list[str]
) -> DataFrame:
    """q118's exact-phrase semantics served FROM the persisted index:
    per-word zone pruning replaces the corpus scan, then the same
    doc_id-co-located adjacency chain as the batch `phrase_match`
    runs over the bounded postings — results are identical row for
    row (integer counts; nothing to drift). The decontamination-audit
    shape at serving latency: cost ∝ the rarest word's posting
    volume, never corpus size."""
    if len(phrase) < 2:
        raise ValueError("phrase_search_indexed needs >= 2 tokens")
    post = _read_positions(spark, base, list(set(phrase)))
    return _phrase_chain(post, phrase)


def proximity_search_indexed(
    spark: SparkSession,
    base: str,
    term_a: str,
    term_b: str,
    window: int = 5,
) -> DataFrame:
    """q119's proximity semantics served from the persisted positional
    family — same pair-count join as the batch `proximity_match` over
    zone-pruned postings."""
    if window < 1:
        raise ValueError("window must be >= 1")
    post = _read_positions(spark, base, [term_a, term_b])
    return _proximity_pairs(post, term_a, term_b, window)


def phrase_search_many(
    spark: SparkSession,
    base: str,
    phrases: dict[str, list[str]],
) -> DataFrame:
    """N exact-phrase queries against the persisted positional family
    in ONE pass — the decontamination-sweep shape for benchmark
    STRINGS (q128 is its bag-of-words cousin): 10k "question + answer"
    phrases against the corpus without one job per phrase.

    One zone-pruned read covers the union of all phrase words, then:

      * every length-2 phrase rides a SINGLE vectorized path — the
        adjacency self-join (doc_id, pos+1) runs ONCE over the pruned
        positions, and a broadcast (query_id, w1, w2) table turns its
        output into per-query hits; 10k bigram phrases cost one join,
        not 10k;
      * longer phrases each chain through `_phrase_chain` over the
        SAME materialized positions (localCheckpoint — the pruned
        read is paid once, not once per phrase).

    Returns (query_id, doc_id, n_occurrences). Results are identical
    to running `phrase_search_indexed` per phrase (pinned in tests;
    q144 certifies against per-phrase SQL replays)."""
    if not phrases:
        raise ValueError("phrase_search_many needs at least one phrase")
    for qid, ws in phrases.items():
        if len(ws) < 2:
            raise ValueError(f"phrase {qid!r} needs >= 2 tokens")
    words = sorted({w for ws in phrases.values() for w in ws})
    post = _read_positions(spark, base, words).localCheckpoint(eager=True)
    out_schema = "query_id string, doc_id long, n_occurrences long"
    parts: list[DataFrame] = []
    bigrams = {q: ws for q, ws in phrases.items() if len(ws) == 2}
    if bigrams:
        a = post.select(
            "doc_id", F.col("token").alias("ta"), F.col("pos").alias("pa")
        )
        b = post.select(
            "doc_id", F.col("token").alias("tb"), F.col("pos").alias("pb")
        )
        adj = a.join(b, "doc_id").filter(F.col("pb") == F.col("pa") + 1)
        qrows = spark.createDataFrame(
            [(q, ws[0], ws[1]) for q, ws in sorted(bigrams.items())],
            "query_id string, ta string, tb string",
        )
        parts.append(
            adj.join(F.broadcast(qrows), ["ta", "tb"])
            .groupBy("query_id", "doc_id")
            .agg(F.count("*").alias("n_occurrences"))
        )
    for qid in sorted(phrases):
        ws = phrases[qid]
        if len(ws) == 2:
            continue
        parts.append(
            _phrase_chain(post, ws).select(
                F.lit(qid).alias("query_id"), "doc_id", "n_occurrences"
            )
        )
    if not parts:
        return spark.createDataFrame([], out_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("query_id", "doc_id", "n_occurrences")


def vocab_prefix(
    spark: SparkSession,
    base: str,
    prefix: str,
    topk: int | None = None,
) -> DataFrame:
    """Vocabulary range scan: (token, df, cf) for every indexed term
    starting with `prefix` — wildcard expansion (`spar*`), typo
    probing, and index-profiling all reduce to this. The token-sorted
    layout makes it a B-tree-style range probe: zone pruning keeps
    only the files whose [min, max] token range intersects
    [prefix, prefix+∞), so cost ∝ the matching vocabulary slice, not
    the index. df counts documents (distinct by the index contract:
    one row per (token, doc_id)), cf sums term frequency. Ordered by
    df desc, token asc; `topk` caps via TakeOrderedAndProject."""
    import os as _os

    from block_explorer_spark.sources import manifest as M

    if not prefix:
        raise ValueError("vocab_prefix needs a non-empty prefix")
    m = M.read(base)
    if not m.get("families", {}).get("postings"):
        raise FileNotFoundError(f"no postings committed under {base}")
    # upper zone bound: any token with this prefix is < prefix + U+10FFFF
    hi = prefix + "\U0010ffff"
    keep = M.prune_by_stats(m, "postings", "token", lo=prefix, hi=hi)
    if not keep:
        return spark.createDataFrame([], "token string, df long, cf long")
    post = _live_postings(
        spark,
        base,
        m,
        spark.read.parquet(
            *[_os.path.join(base, r) for r in keep]
        ).filter(F.col("token").startswith(prefix)),
    )
    out = (
        post.groupBy("token")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .orderBy(F.desc("df"), F.asc("token"))
    )
    return out.limit(topk) if topk else out


def _min_window(post: DataFrame, terms: list[str]) -> DataFrame:
    """Smallest token span covering one occurrence of EVERY term, per
    document containing them all — the passage-retrieval primitive
    (shorter cover ⇒ tighter topical association; INQUERY/Clarke's
    cover density ranking reduces to this statistic). One doc_id-
    co-located join per term (each side pre-filtered to one term's
    postings), span = max(pos) − min(pos) + 1 minimized per doc.
    Cost ∝ the product of the terms' per-doc occurrence counts —
    bounded for query-sized term sets, the same contract as
    phrase_match."""
    cur = (
        post.filter(F.col("token") == terms[0])
        .select("doc_id", F.col("pos").alias("p0"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = post.filter(F.col("token") == t).select(
            "doc_id", F.col("pos").alias(f"p{i}")
        )
        cur = cur.join(nxt, "doc_id")
    cols = [F.col(f"p{i}") for i in range(len(terms))]
    span = F.greatest(*cols) - F.least(*cols) + F.lit(1) if len(cols) > 1 else F.lit(1)
    return cur.select("doc_id", span.alias("__s")).groupBy("doc_id").agg(
        F.min("__s").alias("min_window")
    )


def min_window_match(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Minimal covering window over the corpus scan — (doc_id,
    min_window) for every document containing ALL `terms`."""
    if len(terms) < 2 or len(set(terms)) != len(terms):
        raise ValueError("min_window_match needs >= 2 distinct terms")
    post = positional_index(docs, id_col, text_col, terms=list(terms))
    return _min_window(post, terms)


def min_window_indexed(
    spark: SparkSession, base: str, terms: list[str]
) -> DataFrame:
    """Minimal covering window served from the persisted positional
    family — zone-pruned per-term reads, same join chain as the batch
    path (identical integer spans)."""
    if len(terms) < 2 or len(set(terms)) != len(terms):
        raise ValueError("min_window_indexed needs >= 2 distinct terms")
    post = _read_positions(spark, base, list(terms))
    return _min_window(post, terms)


def kwic_snippets(
    docs: DataFrame,
    term: str,
    width: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyword-in-context: every occurrence of `term` with ±`width`
    tokens of context — the "show me the hits" view a reviewer needs
    after any decontamination/search sweep. One pass: tokenize,
    posexplode filtered to the term BEFORE any shuffle, then slice
    the SAME token array around each hit — no join at all (the array
    rides the row), so the plan is scan → generate → project.
    Returns (doc_id, pos, snippet), snippet space-joined."""
    if not term:
        raise ValueError("kwic_snippets needs a non-empty term")
    if width < 0:
        raise ValueError("width must be >= 0")
    tk = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("tk")
    )
    hits = tk.select(
        "doc_id", "tk", F.posexplode("tk").alias("pos", "token")
    ).filter(F.col("token") == term)
    start = F.greatest(F.col("pos") + 1 - width, F.lit(1))
    length = F.col("pos") + 1 + width - start + 1
    return hits.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.concat_ws(" ", F.slice("tk", start, length)).alias("snippet"),
    )


def kwic_snippets_indexed(
    spark: SparkSession,
    base: str,
    docs: DataFrame,
    term: str,
    width: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_limit: int = 100_000,
) -> DataFrame:
    """KWIC served with the persisted positional family locating the
    hits: the zone-pruned positions (bounded by the term's df) are
    broadcast onto the corpus, so only matching documents are ever
    tokenized — the corpus scan becomes a broadcast-pruned semi-join
    instead of a full tokenize. Refuses loudly above
    `broadcast_limit` occurrences (a stopword's positions are
    O(corpus); use the batch `kwic_snippets` there — same rows
    either way, pinned in tests)."""
    pos = _read_positions(spark, base, [term]).select("doc_id", "pos")
    n = pos.count()
    if n > broadcast_limit:
        raise ValueError(
            f"term {term!r} has {n} occurrences (> {broadcast_limit}); "
            "broadcasting them is O(corpus) — use kwic_snippets"
        )
    tk = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("tk")
    )
    hits = tk.join(F.broadcast(pos), "doc_id")
    start = F.greatest(F.col("pos") + 1 - width, F.lit(1))
    length = F.col("pos") + 1 + width - start + 1
    return hits.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.concat_ws(" ", F.slice("tk", start, length)).alias("snippet"),
    )


def migrate(spark: SparkSession, base: str) -> int | None:
    """Bring an index an earlier round wrote to the one current shape
    in ONE CAS commit: postings without dl get it from one join with
    the doclen family (rewritten token-range-partitioned and sorted
    like a fresh build, same file count; the append tail folds into
    the rewrite), and a missing `termmax` family is folded from the
    dl-carrying postings. Scores do not depend on the layout, so
    every reader then answers bit-identically to a freshly written
    index. Returns the committed version, or None when the index is
    already current (a second call commits nothing)."""
    import os as _os

    from block_explorer_spark.sources import manifest as M

    def _read(rels: list[str]) -> DataFrame:
        return spark.read.parquet(*[_os.path.join(base, r) for r in rels])

    def attempt(snap, stage):
        bm25 = snap["meta"].get("bm25")
        if not bm25:
            raise FileNotFoundError(f"no bm25 index committed under {base}")
        fams = dict(snap["families"])
        add_dl = not bm25.get("dl_in_postings")
        if not add_dl and TERMMAX in fams:
            return None, None
        bm25 = dict(bm25, dl_in_postings=True)
        prels = list(fams.get("postings", []))
        if add_dl and prels:
            joined = _read(prels).join(_read(fams["doclen"]), "doc_id")
            prels = stage.df(
                joined.select("token", "doc_id", "tf", "dl")
                .repartitionByRange(len(prels), "token")
                .sortWithinPartitions("token"),
                "postings",
            )
        if add_dl:
            bm25["tail"] = []
        trels: list[str] = []
        if prels:
            trels = stage.df(
                _term_extremes(_read(prels)).repartitionByRange(
                    max(1, len(prels) // 8), "token"
                ).sortWithinPartitions("token"),
                TERMMAX,
            )
        fams["postings"], fams[TERMMAX] = prels, trels
        meta = dict(snap["meta"])
        meta["bm25"] = bm25
        return snap["version"] + 1, {
            "families": fams,
            "meta": meta,
            "stats": M.file_stats(base, stage.rels, ["token"]),
        }

    return M.transact(base, attempt)


#: Relative guard band on the essential/non-essential split. The
#: real-arithmetic bound (a doc with only non-essential terms scores
#: ≤ ΣUB_NE) carries over to IEEE doubles up to per-op rounding
#: (each +,*,/ rounds monotonically, but the COMPOSED expressions on
#: the two sides round independently); 1e-9 is ~10^7 × the worst
#: accumulated ulp drift over a ≤64-term sum, and costs essentially
#: no pruning, so exactness never hinges on a half-ulp coincidence.
MAXSCORE_SLACK = 1e-9


def bm25_search_maxscore(
    spark: SparkSession,
    base: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
    broadcast_limit: int = BM25_BROADCAST_LIMIT,
    explain: dict | None = None,
) -> DataFrame:
    """EXACT top-k BM25 with MaxScore pruning (Turtle & Flood, IP&M
    1995) over the persisted index — same result set and bit-identical
    scores as `bm25_search_indexed`, but a common term's postings are
    never pivot-aggregated wholesale:

      1. seed a threshold θ: fully score the docs of the RAREST
         query terms (df-ascending, widening until ≥ topk docs) —
         cost ∝ rare-term postings;
      2. per-term upper bounds UB_t = idf_t · g(max_tf, min_dl) from
         the termmax family ((token, max_tf, min_dl) extremes —
         avgdl-independent, so appends only ADD rows and the bound is
         evaluated under the CURRENT avgdl); the static bound
         UB_t = idf_t · (k1+1) stands for a term without extremes;
      3. split terms: the maximal UB-ascending prefix whose ΣUB
         stays (1+ε)-strictly below θ is NON-ESSENTIAL — a doc
         containing only those terms scores < θ, and ≥ topk seed docs
         already scored ≥ θ, so it cannot enter the top-k;
      4. candidates = docs holding ≥1 ESSENTIAL term; score ONLY
         them (postings semi-joined to the candidate set — broadcast
         while Σdf_essential ≤ `broadcast_limit`, shuffled beyond)
         with the IDENTICAL fixed-order arithmetic, then
         TakeOrderedAndProject.

    Why this is exact: every true top-k doc scores ≥ the true kth
    score ≥ θ (θ is the kth best of a SUBSET), and any doc without an
    essential term scores strictly < θ — so the candidate set
    contains the whole true top-k, and per-doc scores don't depend on
    which other docs are scored. SCALE.md's indexed-BM25 curve names
    the Zipf-head term's per-doc aggregation as the serving path's
    output-side lower bound "no layout removes"; MaxScore removes it
    for top-k queries WITHOUT the exactness price block-max WAND
    pays, at the cost of the rare-term seed pass.

    `explain`, when a dict, receives driver-side decisions: theta,
    per-term df/ub, seed/essential/nonessential term lists, and
    whether pruning engaged — the hook the tests and scale scripts
    use to pin that the stopword stayed non-essential."""
    import os as _os

    from block_explorer_spark.sources import manifest as M

    if not terms:
        raise ValueError("bm25_search_maxscore needs at least one term")
    m = M.read(base)
    meta = _bm25_meta(m, base)
    n, avgdl = meta["n"], (meta["sum_dl"] / meta["n"] if meta["n"] else 0.0)
    post = _read_pruned(spark, base, m, "postings", terms, _POSTINGS)
    dfs = {
        r["token"]: int(r["df"])
        for r in post.groupBy("token").agg(F.count("*").alias("df")).collect()
    }
    dfs = {t: dfs.get(t, 0) for t in terms}
    idf = idf_weights(n, dfs)

    # --- per-term upper bounds -------------------------------------
    ub = {t: idf[t] * (k1 + 1.0) for t in terms}
    tkeep: list[str] = []
    for t in terms:
        tkeep += M.prune_by_stats(m, TERMMAX, "token", lo=t, hi=t)
    if tkeep:
        ext = {
            r["token"]: (int(r["mt"]), int(r["mdl"]))
            for r in spark.read.parquet(
                *[_os.path.join(base, rel) for rel in sorted(set(tkeep))]
            )
            .filter(F.col("token").isin(list(terms)))
            .groupBy("token")
            .agg(F.max("max_tf").alias("mt"), F.min("min_dl").alias("mdl"))
            .collect()
        }
        for t, (mt, mdl) in ext.items():
            if avgdl > 0 and mt > 0:
                g = mt * (k1 + 1.0) / (mt + k1 * (1.0 - b + b * mdl / avgdl))
                ub[t] = idf[t] * g
    for t in terms:
        if dfs[t] == 0:
            ub[t] = 0.0

    # --- phase 1: threshold from the rarest terms ------------------
    live = [t for t in terms if dfs[t] > 0]
    by_rarity = sorted(live, key=lambda t: (dfs[t], t))
    total_df = sum(dfs[t] for t in live)
    theta = None
    seed_terms: list[str] = []
    for i in range(1, len(by_rarity) + 1):
        seed_df = sum(dfs[t] for t in by_rarity[:i])
        if seed_df >= topk:
            # seed only when the θ pass is cheap relative to the
            # query it might prune — if filling top-k needs a
            # Zipf-head term (seed ≈ the whole query), scoring the
            # seed IS the query: skip pruning rather than score twice
            if i < len(by_rarity) and seed_df * 4 <= total_df:
                seed_terms = by_rarity[:i]
            break
    if seed_terms:
        seed_df = sum(dfs[t] for t in seed_terms)
        seeds = (
            post.filter(F.col("token").isin(list(seed_terms)))
            .select("doc_id")
            .distinct()
        )
        if seed_df <= broadcast_limit:
            seeds = F.broadcast(seeds)
        sc, col = _score_postings(
            post.join(seeds, "doc_id"), terms, idf, avgdl, k1, b
        )
        rows = (
            sc.select("doc_id", col.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(topk)
            .collect()
        )
        if len(rows) >= topk:
            theta = rows[-1]["score"]

    # --- phase 2: essential split + candidate scoring --------------
    nonessential: list[str] = []
    if theta is not None:
        cum = 0.0
        for t in sorted(live, key=lambda t: (ub[t], t)):
            if (cum + ub[t]) * (1.0 + MAXSCORE_SLACK) < theta:
                cum += ub[t]
                nonessential.append(t)
            else:
                break
    essential = [t for t in live if t not in set(nonessential)]
    if explain is not None:
        explain.update(
            {
                "theta": theta,
                "dfs": dict(dfs),
                "ub": dict(ub),
                "seed_terms": list(seed_terms),
                "essential": list(essential),
                "nonessential": list(nonessential),
                "pruned": bool(nonessential),
            }
        )
    scoped = post
    if nonessential:
        cands = (
            post.filter(F.col("token").isin(list(essential)))
            .select("doc_id")
            .distinct()
        )
        if sum(dfs[t] for t in essential) <= broadcast_limit:
            cands = F.broadcast(cands)
        scoped = post.join(cands, "doc_id")
    scored, score = _score_postings(scoped, terms, idf, avgdl, k1, b)
    return (
        scored.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topk)
    )


def bm25_search(
    spark: SparkSession,
    base: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
    strategy: str = "auto",
    maxscore_min_postings: int = 200_000,
    explain: dict | None = None,
) -> DataFrame:
    """The serving policy in one call — both paths are exact, so the
    choice is pure economics, and SCALE_CURVE measured the crossover:
    below ~10^5 matched postings the full zero-join pivot wins (the
    MaxScore θ seed is a second query); above it MaxScore wins and
    the gap grows with the Zipf-head term (75× less shuffle at
    x1000). `auto` spends one bounded COUNT over the term-pruned
    postings files — the same files either path reads anyway — and
    dispatches on `maxscore_min_postings`; "full" / "maxscore" force
    a side. MaxScore self-degrades to a single full evaluation when
    its seed would cost as much as the query, so auto can never be
    worse than ~2× the better side."""
    import os as _os

    from block_explorer_spark.sources import manifest as M

    if strategy not in ("auto", "full", "maxscore"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "full":
        return bm25_search_indexed(spark, base, terms, k1=k1, b=b, topk=topk)
    if strategy == "maxscore":
        return bm25_search_maxscore(
            spark, base, terms, k1=k1, b=b, topk=topk, explain=explain
        )
    m = M.read(base)
    _bm25_meta(m, base)
    keep: list[str] = []
    for t in terms or []:
        keep += M.prune_by_stats(m, "postings", "token", lo=t, hi=t)
    matched = 0
    if keep:
        matched = (
            spark.read.parquet(*[_os.path.join(base, r) for r in sorted(set(keep))])
            .filter(F.col("token").isin(list(terms)))
            .count()
        )
    chosen = "maxscore" if matched >= maxscore_min_postings else "full"
    if explain is not None:
        explain.update({"strategy": chosen, "matched_postings": matched})
    if chosen == "full":
        return bm25_search_indexed(spark, base, terms, k1=k1, b=b, topk=topk)
    return bm25_search_maxscore(
        spark, base, terms, k1=k1, b=b, topk=topk, explain=explain
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "id",
    rrf_k: int = 60,
    topk: int = 20,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR
    2009): fused score = Σ_sources 1/(rrf_k + rank). The modern
    hybrid-search combiner — keyword (BM25) and vector (cosine)
    rankings fuse on RANKS alone, so the two sides' incomparable
    score scales never meet. Each input carries (id_col, rank) with
    rank 1..n deterministic (ties pre-broken by id).

    Shape: union the bounded ranked lists with a source tag, pivot
    per source, sum contributions in FIXED source order — the exact
    construction the BM25 pivot uses, for the same reason (float
    addition is not associative; the oracle must add in the same
    order). No full-outer join (which would force a sort-merge), one
    shuffle of ≤ Σ|rankings| rows — bounded by the input top-k's,
    never the corpus."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = []
    for i, r in enumerate(rankings):
        parts.append(
            r.select(
                F.col(id_col),
                F.lit(i).alias("__src"),
                F.col("rank").cast("long").alias("__rank"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    pivoted = u.groupBy(id_col).pivot(
        "__src", list(range(len(rankings)))
    ).min("__rank")
    score = F.lit(0.0)
    for i in range(len(rankings)):
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(f"`{i}`").cast("double")),
            F.lit(0.0),
        )
    return (
        pivoted.select(id_col, score.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(topk)
    )


def bm25_topk_many(
    docs: DataFrame,
    queries: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
) -> DataFrame:
    """MANY BM25 queries in ONE pass — the decontamination-sweep shape
    ("which training docs score against ANY of these 10k benchmark
    queries"), where per-query serving round-trips are the scale
    killer: one postings build filtered to the UNION of all query
    terms before its shuffle, one bounded df aggregate (idf per term
    stays a Python-computed literal — the bit-exact contract), then a
    broadcast (query_id, token, idf) join fans each posting out to
    the queries that want it.

    Determinism without a pivot: heterogeneous term sets can't share
    one pivot column layout, so per-(query, doc) contributions are
    collected, sorted BY TOKEN, and folded left-to-right with
    F.aggregate — a fixed evaluation order both engines replay (the
    oracle lists each query's terms token-ascending). Top-k per query
    is one row_number window partitioned by query_id.

    Returns (query_id, doc_id, score), ≤ topk rows per query, ordered
    within each query by (score desc, doc_id)."""
    from pyspark.sql import Window as W

    if not queries:
        raise ValueError("bm25_topk_many needs at least one query")
    for qid, terms in queries.items():
        if not terms:
            raise ValueError(f"query {qid!r} has no terms")
    all_terms = sorted({t for ts in queries.values() for t in ts})
    n, avgdl, dfs = corpus_stats(docs, id_col, text_col, all_terms)
    idf = idf_weights(n, dfs)
    post = inverted_index(docs, id_col, text_col, terms=all_terms)
    dl = docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokenize(text_col)).alias("dl")
    )
    spark = docs.sparkSession
    qrows = spark.createDataFrame(
        [
            (qid, t, float(idf[t]))
            for qid, ts in queries.items()
            for t in sorted(set(ts))
        ],
        "query_id string, token string, idf double",
    )
    fanned = post.join(F.broadcast(qrows), "token").join(dl, "doc_id")
    norm = F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    tf = F.col("tf").cast("double")
    contrib = F.col("idf") * (tf * F.lit(k1 + 1.0) / (tf + norm))
    per_pair = (
        fanned.withColumn("__c", contrib)
        .groupBy("query_id", "doc_id")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("token"), F.col("__c").alias("c")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("score")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_pair.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= topk)
        .select("query_id", "doc_id", "score")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def bm25_search_many(
    spark: SparkSession,
    base: str,
    queries: dict[str, list[str]],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
) -> DataFrame:
    """`bm25_topk_many` served FROM the persisted index: one pruned
    read over the union of all query terms' covering files (manifest
    token zones), df per term from those bounded postings, idf as
    Python literals, then the same broadcast fan-out + token-ascending
    fold + per-query row_number as the batch path — scores
    bit-identical to it (same arithmetic, same fold order). dl rides
    in the postings, so the plan touches no other table: pruned scan
    → broadcast fan-out → fold → window. The sweep shape at serving
    time: 10k benchmark queries against the committed index without
    re-tokenizing the corpus."""
    from pyspark.sql import Window as W

    from block_explorer_spark.sources import manifest as M

    if not queries:
        raise ValueError("bm25_search_many needs at least one query")
    for qid, terms in queries.items():
        if not terms:
            raise ValueError(f"query {qid!r} has no terms")
    m = M.read(base)
    meta = _bm25_meta(m, base)
    n, avgdl = meta["n"], (meta["sum_dl"] / meta["n"] if meta["n"] else 0.0)
    all_terms = sorted({t for ts in queries.values() for t in ts})
    post = _read_pruned(spark, base, m, "postings", all_terms, _POSTINGS)
    dfs = {
        r["token"]: int(r["df"])
        for r in post.groupBy("token").agg(F.count("*").alias("df")).collect()
    }
    idf = idf_weights(n, {t: dfs.get(t, 0) for t in all_terms})
    qrows = spark.createDataFrame(
        [
            (qid, t, float(idf[t]))
            for qid, ts in queries.items()
            for t in sorted(set(ts))
        ],
        "query_id string, token string, idf double",
    )
    fanned = post.join(F.broadcast(qrows), "token")
    norm = F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    tf = F.col("tf").cast("double")
    contrib = F.col("idf") * (tf * F.lit(k1 + 1.0) / (tf + norm))
    per_pair = (
        fanned.withColumn("__c", contrib)
        .groupBy("query_id", "doc_id")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("token"), F.col("__c").alias("c")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("score")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_pair.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= topk)
        .select("query_id", "doc_id", "score")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )
