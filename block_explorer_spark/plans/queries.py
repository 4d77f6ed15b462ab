"""The explorer's read surface (SURVEY §2.12) as DataFrame plans.

Each function mirrors one StorageAPIFetcher read the REST API serves
(reference: etl/interfaces/interfaces.go:102-123, etl/storage/storage.go)
as a pure DataFrame composition: validation stays at the API edge,
semantics (sentinels, ordering, pagination, sibling/hierarchy lookups)
live here, and Catalyst handles pushdown/pruning/join strategy.

Paged operations return (page_df, total) — the reference's two-pass
LIMIT + COUNT(*) pattern (A1).

The REST edge answers from the Arrow serving forms at the end of this
module instead: the same semantics as pyarrow functions over the few
files a request prunes to, with no Spark job unless an input is over
the driver's byte gate.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from block_explorer_spark.functions import jets
from block_explorer_spark.operators import filters as Fl
from block_explorer_spark.operators import pagination as Pg
from block_explorer_spark.operators import windows as W


# ---------------------------------------------------------------------------
# records
# ---------------------------------------------------------------------------


def get_lifeline(
    records: DataFrame,
    object_reference: bytes,
    cursor: tuple[int, int] | None = None,
    pulse_gt: int | None = None,
    pulse_lt: int | None = None,
    ts_gte: int | None = None,
    ts_lte: int | None = None,
    ascending: bool = False,
    limit: int = Pg.DEFAULT_LIMIT,
    offset: int = 0,
) -> tuple[DataFrame, int]:
    """GET /api/v1/lifeline/{ref}/records — an object's state history.

    F5 (object equality + type='state') + F1 pulse range + F3 timestamp
    range + F4 keyset cursor + (pulse_number, order) sort + page/total.
    reference: etl/storage/storage.go:258-283
    """
    df = Fl.apply_filters(
        records,
        Fl.equality(type="state") & (F.col("object_reference") == object_reference),
        Fl.range_exclusive("pulse_number", gt=pulse_gt, lt=pulse_lt),
        Fl.timestamp_range(gte=ts_gte, lte=ts_lte),
        Fl.keyset_cursor("pulse_number", "order", cursor[0], cursor[1], ascending)
        if cursor is not None
        else None,
    )
    sort = [("pulse_number", ascending), ("order", ascending)]
    return Pg.paginate_with_total(df, sort, limit, offset)


def get_records_by_jet_drop(
    records: DataFrame,
    jet_id: str,
    pulse_number: int,
    record_type: str | None = None,
    cursor: tuple[int, int] | None = None,
    ascending: bool = True,
    limit: int = Pg.DEFAULT_LIMIT,
    offset: int = 0,
) -> tuple[DataFrame, int]:
    """GET /api/v1/jet-drops/{id}/records.

    F6 point + optional F7 type + F4 cursor + W1 sort + page/total.
    reference: etl/storage/storage.go:382-407
    """
    df = Fl.apply_filters(
        records,
        Fl.equality(jet_id=jet_id, pulse_number=pulse_number),
        Fl.equality(type=record_type) if record_type else None,
        Fl.keyset_cursor("pulse_number", "order", cursor[0], cursor[1], ascending)
        if cursor is not None
        else None,
    )
    sort = [("pulse_number", ascending), ("order", ascending)]
    return Pg.paginate_with_total(df, sort, limit, offset)


def get_record(records: DataFrame, reference: bytes) -> DataFrame:
    """Point lookup by record reference (search dispatch target)."""
    return records.filter(F.col("reference") == reference)


# ---------------------------------------------------------------------------
# pulses
# ---------------------------------------------------------------------------


def get_pulse(pulses: DataFrame, pulse_number: int) -> DataFrame:
    """GET /api/v1/pulses/{pn} — point lookup + J2 prev/next repair.

    A pulse's stored next link is nominal; the API must report -1 when
    the neighbor it names was never saved. Resolved with one self-join
    against the (broadcast) single-row probe.
    reference: etl/storage/storage.go:286-300,360-379
    """
    point = pulses.filter(F.col("pulse_number") == pulse_number)
    others = pulses.select(
        F.col("pulse_number").alias("__pn"), F.col("prev_pulse_number").alias("__prev")
    )
    with_next = (
        F.broadcast(point)
        .join(others, on=F.col("pulse_number") == F.col("__prev"), how="left_outer")
        .withColumn("next_pulse_number", F.coalesce(F.col("__pn"), F.lit(W.MISSING)))
        .drop("__pn", "__prev")
    )
    prev_exists = pulses.select(F.col("pulse_number").alias("__prev_pn"))
    return (
        F.broadcast(with_next)
        .join(prev_exists, on=F.col("prev_pulse_number") == F.col("__prev_pn"), how="left_outer")
        .withColumn(
            "prev_pulse_number",
            F.when(F.col("__prev_pn").isNull(), F.lit(W.MISSING)).otherwise(
                F.col("prev_pulse_number")
            ),
        )
        .drop("__prev_pn")
    )


def get_pulses(
    pulses: DataFrame,
    from_pulse: int | None = None,
    ts_gte: int | None = None,
    ts_lte: int | None = None,
    pulse_gt: int | None = None,
    pulse_gte: int | None = None,
    pulse_lt: int | None = None,
    pulse_lte: int | None = None,
    ascending: bool = False,
    limit: int = Pg.DEFAULT_LIMIT,
    offset: int = 0,
    lazy_total: bool = False,
) -> tuple[DataFrame, int | None]:
    """GET /api/v1/pulses — filtered page with W2 chain repair.

    F2 4-way pulse range + F3 timestamp range + `pulse_number <= from`
    + sort + page/total, then adjacent-row repair of prev/next links
    *within the page* (the reference repairs the fetched slice:
    etl/storage/storage.go:303-358).

    `lazy_total=True` is the serving hot path: instead of a separate
    count ACTION (a full extra Spark job per request — the dominant
    cost at point-serving latencies), the total rides along as a
    `__total` window column over the filtered set and the function
    returns (page, None); the caller reads it from the collected rows.
    The empty-frame window is a single partition of the FILTERED pulse
    dim — bounded by construction (one row per ~10 s pulse), the same
    bounded-window argument as budget_select's bucket prefix.
    """
    df = Fl.apply_filters(
        pulses,
        Fl.range_4way("pulse_number", gt=pulse_gt, gte=pulse_gte, lt=pulse_lt, lte=pulse_lte),
        Fl.timestamp_range(gte=ts_gte, lte=ts_lte),
        (F.col("pulse_number") <= from_pulse) if from_pulse is not None else None,
    )
    if lazy_total:
        total = None
        df = df.withColumn("__total", F.count(F.lit(1)).over(Window.partitionBy()))
    else:
        total = df.count()
    page = Pg.paginate(df, [("pulse_number", ascending)], limit, offset)
    # Interior rows repair against page-adjacent rows only (the
    # reference's vectorized walk is page-local, storage.go:326-357);
    # page is small (≤1000) so the window sort is trivial.
    orig_prev = F.col("__orig_prev")
    repaired = W.chain_repair(
        page.withColumn("__orig_prev", F.col("prev_pulse_number")),
        window=Window.orderBy("pulse_number"),
    )
    # Page-EDGE rows consult the full table like the reference's
    # updatePrevPulse/updateNextPulse (storage.go:360-379): the lowest
    # row keeps its stored prev iff that pulse exists anywhere; the
    # highest row's next is the pulse whose prev-link names it. All
    # probe sides are tiny (1-row aggregates / ≤1000 distinct keys) →
    # broadcast; the pulses scans they prune are small by nature
    # (one row per ~10 s pulse).
    lo_hi = page.agg(F.min("pulse_number").alias("__lo"), F.max("pulse_number").alias("__hi"))
    next_real = (
        pulses.crossJoin(F.broadcast(lo_hi))
        .filter(F.col("prev_pulse_number") == F.col("__hi"))
        .agg(F.min("pulse_number").alias("__next_real"))
    )
    prev_keys = page.select(F.col("prev_pulse_number").alias("__pe")).distinct()
    prev_exists = pulses.join(
        F.broadcast(prev_keys), F.col("pulse_number") == F.col("__pe"), "left_semi"
    ).select(F.col("pulse_number").alias("__pe"))
    out = (
        repaired.crossJoin(F.broadcast(lo_hi))
        .crossJoin(F.broadcast(next_real))
        .join(F.broadcast(prev_exists), orig_prev == F.col("__pe"), "left_outer")
        .withColumn(
            "next_pulse_number",
            F.when(
                F.col("pulse_number") == F.col("__hi"),
                F.coalesce(F.col("__next_real"), F.lit(W.MISSING)),
            ).otherwise(F.col("next_pulse_number")),
        )
        .withColumn(
            "prev_pulse_number",
            F.when(
                F.col("pulse_number") == F.col("__lo"),
                F.when(F.col("__pe").isNull(), F.lit(W.MISSING)).otherwise(orig_prev),
            ).otherwise(F.col("prev_pulse_number")),
        )
        .drop("__orig_prev", "__lo", "__hi", "__next_real", "__pe")
    )
    return out.orderBy(
        F.col("pulse_number").asc() if ascending else F.col("pulse_number").desc()
    ), total


# ---------------------------------------------------------------------------
# jet drops
# ---------------------------------------------------------------------------


def get_jet_drops_by_pulse(
    jet_drops: DataFrame,
    pulse_number: int,
    from_jet_id: str | None = None,
    limit: int = Pg.DEFAULT_LIMIT,
    offset: int = 0,
) -> tuple[DataFrame, int]:
    """GET /api/v1/pulses/{pn}/jet-drops.

    F6 pulse point + `jet_id >= from` seek + ORDER BY jet_id + page.
    reference: etl/storage/storage.go:475-494
    """
    df = Fl.apply_filters(
        jet_drops,
        Fl.equality(pulse_number=pulse_number),
        (F.col("jet_id") >= from_jet_id) if from_jet_id is not None else None,
    )
    return Pg.paginate_with_total(df, [("jet_id", True)], limit, offset)


def get_jet_drop_by_id(
    jet_drops: DataFrame, jet_id: str, pulse_number: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """GET /api/v1/jet-drops/{id} — point + J3 sibling prev/next drops.

    Returns (drop, prev_drops, next_drops): siblings limited to the
    adjacent pulses actually holding them (the reference resolves prev/
    next pulse first, then sibling-filters; we push both predicates into
    one scan each way and keep only the nearest pulse's matches).
    reference: etl/storage/storage.go:496-531
    """
    drop = jet_drops.filter(Fl.equality(jet_id=jet_id, pulse_number=pulse_number))
    sib = jets.sibling_exprs(jet_id)

    # Nearest sibling-holding pulse each way via a scalar aggregate
    # (map-side partial max/min + 1-row broadcast), NOT a global
    # window: the sibling filter can match one drop per pulse, and a
    # dense_rank over an unpartitioned window would single-partition
    # that entire history at scale.
    def _nearest(direction_lt: bool) -> DataFrame:
        cond = F.col("pulse_number") < pulse_number if direction_lt else (
            F.col("pulse_number") > pulse_number
        )
        cand = jet_drops.filter(Fl.in_list("jet_id", sib) & cond)
        edge = cand.agg(
            (F.max if direction_lt else F.min)("pulse_number").alias("__edge")
        )
        return (
            cand.crossJoin(F.broadcast(edge))
            .filter(F.col("pulse_number") == F.col("__edge"))
            .drop("__edge")
        )

    return drop, _nearest(True), _nearest(False)


def get_jet_drops_by_jet_id(
    jet_drops: DataFrame,
    jet_id: str,
    pulse_gt: int | None = None,
    pulse_gte: int | None = None,
    pulse_lt: int | None = None,
    pulse_lte: int | None = None,
    pulse_ascending: bool = False,
    limit: int = 1000,
    lazy_total: bool = False,
) -> tuple[DataFrame, int | None]:
    """GET /api/v1/jets/{id}/jet-drops — hierarchy page.

    F9 (jet + ancestors + descendants) + F2 pulse range + two-column
    sort with opposing directions (pulse asc ⇒ jet desc and vice versa)
    + LIMIT (no offset on this endpoint) + total.
    reference: etl/storage/storage.go:533-561

    `lazy_total=True`: total rides along as a `__total` window column
    instead of a second count job (see get_pulses); the filtered set
    is one jet's hierarchy slice — bounded."""
    df = Fl.apply_filters(
        jet_drops,
        Fl.jet_hierarchy(jet_id, jets.jet_parents(jet_id)[:-1]),
        Fl.range_4way("pulse_number", gt=pulse_gt, gte=pulse_gte, lt=pulse_lt, lte=pulse_lte),
    )
    sort = [("pulse_number", pulse_ascending), ("jet_id", not pulse_ascending)]
    if lazy_total:
        df = df.withColumn("__total", F.count(F.lit(1)).over(Window.partitionBy()))
        return Pg.paginate(df, sort, limit, 0), None
    page = Pg.paginate(df, sort, limit, 0)
    return page, df.count()


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------


def search(
    pulses: DataFrame,
    jet_drops: DataFrame,
    records: DataFrame,
    value: str,
) -> tuple[str, DataFrame]:
    """GET /api/v1/search?value= — type-dispatch point lookup.

    pulse int → pulse; "<jet>:<pulse>" → jet drop; base58 ref → record
    (by reference) or lifeline head (by object_reference).
    reference: api/handlers.go:458-553
    """
    from block_explorer_spark.functions import refs

    v = value.strip()
    if v.isdigit():
        return "pulse", get_pulse(pulses, int(v))
    if ":" in v:
        jet, pn = jets.parse_jet_drop_id(v)
        drop, _, _ = get_jet_drop_by_id(jet_drops, jet, pn)
        return "jet_drop", drop
    ref = refs.parse_reference(v)
    # The reference classifies the base58 ref structurally
    # (IsObjectReference); observable behavior: object refs answer as
    # a lifeline, record refs as the record (+index). Classified here
    # by data — object match wins, matching searchReferencePulse's
    # response order (api/handlers.go:515-553).
    as_object = records.filter(F.col("object_reference") == ref)
    if not as_object.isEmpty():
        return "lifeline", as_object
    return "record", records.filter(F.col("reference") == ref)


# ---------------------------------------------------------------------------
# Arrow serving forms: what the REST edge answers each request with
# ---------------------------------------------------------------------------
#
# Every endpoint below is a pyarrow function over a `tables` source: an
# object whose `read(name, where, sort, n, cols, lo, hi, obj)` returns
# (filtered row count, top-n rows) of one table and whose
# `spans(name, pn, below)` lists the pulse ranges to probe, nearest
# first. ArrowTables is the in-memory source; rest._StoreTables reads
# one manifest snapshot of a store. Either way the per-input work is
# `scan`, run on the driver or per partition through `scan_frame`, and
# `merge` combines the partial answers, so both placements return the
# same rows. `lo`/`hi`/`obj` only prune what is read: `where` always
# carries the whole predicate. Sorts end on the table's primary key,
# so a page is the same whichever placement or file split served it.

#: Columns the serving functions read (raw_data never leaves storage).
SERVING_COLS = {
    "pulses": [
        "pulse_number", "prev_pulse_number", "next_pulse_number", "is_complete",
        "is_sequential", "timestamp", "jet_drop_amount", "record_amount",
    ],
    "jet_drops": [
        "pulse_number", "jet_id", "first_prev_hash", "second_prev_hash", "hash",
        "timestamp", "record_amount",
    ],
    "records": [
        "reference", "type", "object_reference", "prototype_reference", "payload",
        "prev_record_reference", "hash", "jet_id", "pulse_number", "order", "timestamp",
    ],
}

_PN = pc.field("pulse_number")


def _and(*exprs):
    """AND of the non-None Arrow predicates (None when all are None)."""
    out = None
    for e in exprs:
        if e is not None:
            out = e if out is None else out & e
    return out


def _pulse_range(gt=None, gte=None, lt=None, lte=None):
    """F2 over pulse_number as (Arrow predicate, inclusive lo, inclusive
    hi); the bounds only prune the files a store read opens."""
    where = _and(
        _PN > gt if gt is not None else None,
        _PN >= gte if gte is not None else None,
        _PN < lt if lt is not None else None,
        _PN <= lte if lte is not None else None,
    )
    los = [v for v in (gt + 1 if gt is not None else None, gte) if v is not None]
    his = [v for v in (lt - 1 if lt is not None else None, lte) if v is not None]
    return where, max(los, default=None), min(his, default=None)


def _ts_range(gte=None, lte=None):
    ts = pc.field("timestamp")
    return _and(ts >= gte if gte is not None else None, ts <= lte if lte is not None else None)


def _cursor(cursor, ascending):
    """F4 keyset cursor on (pulse_number, order)."""
    if cursor is None:
        return None
    pn, order = cursor
    o = pc.field("order")
    if ascending:
        return (_PN > pn) | ((_PN == pn) & (o >= order))
    return (_PN < pn) | ((_PN == pn) & (o <= order))


def _arrow_sort(sort):
    return [(c, "ascending" if asc else "descending") for c, asc in sort]


def scan(tbl, where=None, sort=(), n=None):
    """The per-input kernel: filter by `where`, keep the top `n` rows
    under `sort` (every row when n is None) and add a `__n` column that
    holds the filtered row count on the first row and 0 on the rest.
    Applied to a partition, its output is that partition's partial
    answer; `merge` sums the counts and re-sorts the rows."""
    if where is not None:
        tbl = tbl.filter(where)
    count = tbl.num_rows
    if sort:
        tbl = tbl.sort_by(_arrow_sort(sort))
    if n is not None:
        tbl = tbl.slice(0, n)
    marks = [count] + [0] * (tbl.num_rows - 1) if tbl.num_rows else []
    return tbl.append_column("__n", pa.array(marks, pa.int64()))


def scan_frame(df: DataFrame, where=None, sort=(), n=None):
    """`scan` over each partition of `df` through mapInArrow (one Spark
    job); returns the concatenated partial answers as a pyarrow.Table."""
    from pyspark.sql import types as T

    schema = T.StructType(df.schema.fields + [T.StructField("__n", T.LongType())])

    def per_partition(batches):
        batches = list(batches)
        if batches:
            yield from scan(pa.Table.from_batches(batches), where, sort, n).to_batches()

    return df.mapInArrow(per_partition, schema).toArrow()


def merge(parts, sort=(), n=None):
    """(total, top-n rows) from `scan`'s partial answers."""
    total = pc.sum(parts.column("__n")).as_py() or 0
    rows = parts.drop_columns(["__n"])
    if sort:
        rows = rows.sort_by(_arrow_sort(sort))
    return total, rows if n is None else rows.slice(0, n)


class ArrowTables:
    """An in-memory `tables` source: each table is a pyarrow.Table,
    scanned on the driver, or a DataFrame too big to collect, scanned
    through `scan_frame`."""

    def __init__(self, **tables):
        self.tables = tables

    def read(self, name, where=None, sort=(), n=None, cols=None, lo=None, hi=None, obj=None):
        src = self.tables[name].select(cols or SERVING_COLS[name])
        if isinstance(src, pa.Table):
            return merge(scan(src, where, sort, n), sort, n)
        return merge(scan_frame(src, where, sort, n), sort, n)

    def spans(self, name, pn, below):
        return [(None, None)]


def _nearest(tables, name, where, pn, below, tie=(), cols=None) -> list[dict]:
    """The rows matching `where` at the pulse nearest to `pn` (below or
    above it, exclusive), `tie`-sorted; [] when there is none. Probes
    the source's spans nearest first and stops at the first hit."""
    side = _PN < pn if below else _PN > pn
    for lo, hi in tables.spans(name, pn, below):
        _, rows = tables.read(
            name, _and(where, side), sort=[("pulse_number", not below), *tie],
            cols=cols, lo=lo, hi=hi,
        )
        if rows.num_rows:
            return rows.filter(_PN == rows.column("pulse_number")[0]).to_pylist()
    return []


def _pulse_exists(tables, pn) -> bool:
    if pn is None:
        return False
    total, _ = tables.read(
        "pulses", _PN == pn, n=1, cols=["pulse_number"], lo=pn, hi=pn
    )
    return total > 0


def _next_real(tables, pn) -> int:
    """The pulse whose stored prev link names `pn` (the smallest, as
    chain links point backward), or MISSING."""
    nxt = _nearest(
        tables, "pulses", pc.field("prev_pulse_number") == pn, pn, below=False,
        cols=["pulse_number", "prev_pulse_number"],
    )
    return nxt[0]["pulse_number"] if nxt else W.MISSING


def get_pulse_row(tables, pulse_number: int) -> dict | None:
    """GET /api/v1/pulses/{pn}: the stored row with J2's prev/next
    repair (a link to a pulse never saved reads MISSING), or None.
    reference: etl/storage/storage.go:286-300,360-379"""
    _, hit = tables.read(
        "pulses", _PN == pulse_number, n=1, lo=pulse_number, hi=pulse_number
    )
    if not hit.num_rows:
        return None
    row = hit.to_pylist()[0]
    row["next_pulse_number"] = _next_real(tables, pulse_number)
    if not _pulse_exists(tables, row["prev_pulse_number"]):
        row["prev_pulse_number"] = W.MISSING
    return row


def get_pulses_rows(
    tables,
    from_pulse: int | None = None,
    ts_gte: int | None = None,
    ts_lte: int | None = None,
    pulse_gt: int | None = None,
    pulse_gte: int | None = None,
    pulse_lt: int | None = None,
    pulse_lte: int | None = None,
    ascending: bool = False,
    limit: int = Pg.DEFAULT_LIMIT,
    offset: int = 0,
) -> tuple[list[dict], int]:
    """GET /api/v1/pulses: F2 range + F3 timestamps + `pulse_number <=
    from` + sort + page/total, then the W2 chain repair over the page
    the way the reference does it: interior links against the page's
    own neighbours (etl/storage/storage.go:326-357), the two edge rows
    against the table (storage.go:360-379). Returns (rows sorted per
    `ascending` with repaired links, total); rows carry the raw pulse
    columns."""
    where, lo, hi = _pulse_range(pulse_gt, pulse_gte, pulse_lt, pulse_lte)
    if from_pulse is not None:
        where = _and(where, _PN <= from_pulse)
        hi = from_pulse if hi is None else min(hi, from_pulse)
    total, page = tables.read(
        "pulses", _and(where, _ts_range(ts_gte, ts_lte)),
        sort=[("pulse_number", ascending)], n=offset + limit, lo=lo, hi=hi,
    )
    rows = page.slice(offset).to_pylist()
    if not rows:
        return [], total
    rows.sort(key=lambda r: r["pulse_number"])
    orig_prev = [r["prev_pulse_number"] for r in rows]
    n = len(rows)
    # W2 interior repair: prev keyed on the lag row, next OVERWRITTEN
    # from the lead row iff its prev points back
    for i, r in enumerate(rows):
        lag_key = rows[i - 1]["pulse_number"] if i > 0 else None
        r["prev_pulse_number"] = (
            orig_prev[i] if lag_key is not None and lag_key == orig_prev[i] else W.MISSING
        )
        lead_prev = orig_prev[i + 1] if i + 1 < n else None
        r["next_pulse_number"] = (
            rows[i + 1]["pulse_number"]
            if lead_prev is not None and lead_prev == r["pulse_number"]
            else W.MISSING
        )
    rows[-1]["next_pulse_number"] = _next_real(tables, rows[-1]["pulse_number"])
    rows[0]["prev_pulse_number"] = (
        orig_prev[0] if _pulse_exists(tables, orig_prev[0]) else W.MISSING
    )
    if not ascending:
        rows.reverse()
    return rows, total


def get_jet_drops_by_pulse_rows(
    tables,
    pulse_number: int,
    from_jet_id: str | None = None,
    limit: int = Pg.DEFAULT_LIMIT,
    offset: int = 0,
) -> tuple[list[dict], int]:
    """GET /api/v1/pulses/{pn}/jet-drops: F6 pulse point + `jet_id >=
    from` seek + ORDER BY jet_id + page/total.
    reference: etl/storage/storage.go:475-494"""
    where = _and(
        _PN == pulse_number,
        pc.field("jet_id") >= from_jet_id if from_jet_id is not None else None,
    )
    total, page = tables.read(
        "jet_drops", where, sort=[("jet_id", True)], n=offset + limit,
        lo=pulse_number, hi=pulse_number,
    )
    return page.slice(offset).to_pylist(), total


def get_jet_drop_by_id_rows(
    tables, jet_id: str, pulse_number: int
) -> tuple[list[dict], list[dict], list[dict]]:
    """GET /api/v1/jet-drops/{id}: (drop, prev siblings, next
    siblings). J3's siblings are the X5 sibling-set drops at the
    nearest pulse below and above that holds any; no drop, no probes.
    reference: etl/storage/storage.go:496-531"""
    _, hit = tables.read(
        "jet_drops", (_PN == pulse_number) & (pc.field("jet_id") == jet_id), n=1,
        lo=pulse_number, hi=pulse_number,
    )
    if not hit.num_rows:
        return [], [], []
    sib = pc.field("jet_id").isin(jets.sibling_exprs(jet_id))
    tie = [("jet_id", True)]
    return (
        hit.to_pylist(),
        _nearest(tables, "jet_drops", sib, pulse_number, below=True, tie=tie),
        _nearest(tables, "jet_drops", sib, pulse_number, below=False, tie=tie),
    )


def get_jet_drops_by_jet_id_rows(
    tables,
    jet_id: str,
    pulse_gt: int | None = None,
    pulse_gte: int | None = None,
    pulse_lt: int | None = None,
    pulse_lte: int | None = None,
    pulse_ascending: bool = False,
    limit: int = 1000,
) -> tuple[list[dict], int, list[dict]]:
    """GET /api/v1/jets/{id}/jet-drops: F9 (jet + ancestors +
    descendants) + F2 range + the two-column sort with opposing
    directions + LIMIT + total, plus the drops of the saved pulses
    adjacent to the page (the J5 prefetch the handler builds its
    hash-chain prev/next maps from, api/handlers.go:207-267).
    Returns (page, total, adjacent drops).
    reference: etl/storage/storage.go:533-561"""
    jet = pc.field("jet_id")
    parents = jets.jet_parents(jet_id)[:-1]
    hierarchy = pc.starts_with(jet, pattern=jet_id)
    if parents:
        hierarchy = jet.isin(parents) | hierarchy
    where, lo, hi = _pulse_range(pulse_gt, pulse_gte, pulse_lt, pulse_lte)
    total, page = tables.read(
        "jet_drops", _and(hierarchy, where),
        sort=[("pulse_number", pulse_ascending), ("jet_id", not pulse_ascending)],
        n=limit, lo=lo, hi=hi,
    )
    rows = page.to_pylist()
    if not rows:
        return [], total, []
    pns = [r["pulse_number"] for r in rows]
    adjacent = []
    for pn, below in ((min(pns), True), (max(pns), False)):
        edge = _nearest(tables, "pulses", None, pn, below, cols=["pulse_number"])
        if edge:
            epn = edge[0]["pulse_number"]
            _, drops = tables.read(
                "jet_drops", _PN == epn, sort=[("jet_id", True)], lo=epn, hi=epn
            )
            adjacent += drops.to_pylist()
    return rows, total, adjacent


def _record_sort(ascending: bool):
    """W1 for record pages: (pulse_number, order), then the primary key."""
    return [("pulse_number", ascending), ("order", ascending), ("reference", ascending)]


def get_records_by_jet_drop_rows(
    tables,
    jet_id: str,
    pulse_number: int,
    record_type: str | None = None,
    cursor: tuple[int, int] | None = None,
    limit: int = Pg.DEFAULT_LIMIT,
    offset: int = 0,
) -> tuple[list[dict], int]:
    """GET /api/v1/jet-drops/{id}/records: F6 point + optional F7 type
    + F4 cursor + ascending (pulse_number, order) + page/total.
    reference: etl/storage/storage.go:382-407"""
    where = _and(
        _PN == pulse_number,
        pc.field("jet_id") == jet_id,
        pc.field("type") == record_type if record_type else None,
        _cursor(cursor, True),
    )
    total, page = tables.read(
        "records", where, sort=_record_sort(True), n=offset + limit,
        lo=pulse_number, hi=pulse_number,
    )
    return page.slice(offset).to_pylist(), total


def get_lifeline_rows(
    tables,
    object_reference: bytes,
    cursor: tuple[int, int] | None = None,
    pulse_gt: int | None = None,
    pulse_lt: int | None = None,
    ts_gte: int | None = None,
    ts_lte: int | None = None,
    ascending: bool = False,
    limit: int = Pg.DEFAULT_LIMIT,
    offset: int = 0,
) -> tuple[list[dict], int]:
    """GET /api/v1/lifeline/{ref}/records: F5 (object + type='state') +
    F1 exclusive pulse range + F3 timestamps + F4 cursor + (pulse_number,
    order) sort + page/total. The object reference also prunes a store
    read through its object index.
    reference: etl/storage/storage.go:258-283"""
    where, lo, hi = _pulse_range(gt=pulse_gt, lt=pulse_lt)
    where = _and(
        pc.field("type") == "state",
        pc.field("object_reference") == pa.scalar(object_reference, pa.binary()),
        where,
        _ts_range(ts_gte, ts_lte),
        _cursor(cursor, ascending),
    )
    total, page = tables.read(
        "records", where, sort=_record_sort(ascending), n=offset + limit,
        lo=lo, hi=hi, obj=object_reference,
    )
    return page.slice(offset).to_pylist(), total


def search_reference(tables, ref: bytes) -> tuple[str | None, dict | None]:
    """GET /api/v1/search for a reference: ("lifeline", None) when some
    record belongs to that object, else ("record", row) for the record
    with that reference, else (None, None) — the reference's response
    order (api/handlers.go:515-553)."""
    ref_lit = pa.scalar(ref, pa.binary())
    n_obj, _ = tables.read(
        "records", pc.field("object_reference") == ref_lit, n=1,
        cols=["object_reference"], obj=ref,
    )
    if n_obj:
        return "lifeline", None
    _, hit = tables.read(
        "records", pc.field("reference") == ref_lit, n=1,
        cols=["reference", "object_reference", "pulse_number", "order"],
    )
    return ("record", hit.to_pylist()[0]) if hit.num_rows else (None, None)
