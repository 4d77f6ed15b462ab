from __future__ import annotations

from pyspark.sql import functions as F

from block_explorer_spark import schemas
from block_explorer_spark.operators import joins as J
from block_explorer_spark.plans import queries as Q
from block_explorer_spark.sources import generators as gen


def _lifeline_df(spark, pulses=(100, 110, 120), rpp=3):
    life = gen.make_lifeline(seed=3, pulses=list(pulses), records_per_pulse=rpp)
    df = spark.createDataFrame(life.records, schemas.RECORDS)
    return life, df


def test_get_lifeline_desc_default(spark):
    life, df = _lifeline_df(spark)
    page, total = Q.get_lifeline(df, life.object_reference, limit=100)
    rows = page.collect()
    assert total == 9  # 3 pulses x 3 states (request excluded)
    assert all(r.type == "state" for r in rows)
    keys = [(r.pulse_number, r.order) for r in rows]
    assert keys == sorted(keys, reverse=True)


def test_get_lifeline_cursor_and_range(spark):
    life, df = _lifeline_df(spark)
    page, total = Q.get_lifeline(
        df, life.object_reference, cursor=(110, 2), ascending=True, limit=100
    )
    keys = [(r.pulse_number, r.order) for r in page.collect()]
    assert keys[0] >= (110, 2)
    assert keys == sorted(keys)
    page2, total2 = Q.get_lifeline(
        df, life.object_reference, pulse_gt=100, pulse_lt=120, limit=100
    )
    assert total2 == 3
    assert all(r.pulse_number == 110 for r in page2.collect())


def test_get_pulse_repairs_links(spark):
    pulses = gen.make_pulses(start=1000, count=5, gaps=(2,))  # 1000,1010,1030,1040
    df = spark.createDataFrame(pulses, schemas.PULSES)
    got = Q.get_pulse(df, 1010).collect()[0]
    assert got.prev_pulse_number == 1000
    assert got.next_pulse_number == -1  # 1020 missing
    got2 = Q.get_pulse(df, 1030).collect()[0]
    assert got2.prev_pulse_number == -1  # stored prev 1020 missing
    assert got2.next_pulse_number == 1040


def test_get_pulses_page_and_repair(spark):
    pulses = gen.make_pulses(start=1000, count=6, gaps=(3,))
    df = spark.createDataFrame(pulses, schemas.PULSES)
    page, total = Q.get_pulses(df, ascending=False, limit=3)
    assert total == 5
    rows = page.collect()
    assert [r.pulse_number for r in rows] == [1050, 1040, 1020]
    by_pn = {r.pulse_number: r for r in rows}
    assert by_pn[1020].next_pulse_number == -1  # 1030 missing
    assert by_pn[1040].prev_pulse_number == -1
    # page-EDGE rows consult the full table (storage.go:360-379):
    # 1020's stored prev (1010) exists outside the page -> kept;
    # nothing links prev=1050 -> next stays -1
    assert by_pn[1020].prev_pulse_number == 1010
    assert by_pn[1050].next_pulse_number == -1


def test_get_pulses_edge_lookup_beyond_page(spark):
    # contiguous chain 1000..1040; a middle page's edges resolve their
    # neighbors from the table even though they're outside the page
    pulses = gen.make_pulses(start=1000, count=5)
    df = spark.createDataFrame(pulses, schemas.PULSES)
    page, total = Q.get_pulses(df, ascending=True, limit=3, offset=1)
    assert total == 5
    rows = {r.pulse_number: r for r in page.collect()}
    assert sorted(rows) == [1010, 1020, 1030]
    assert rows[1010].prev_pulse_number == 1000  # exists beyond page
    assert rows[1030].next_pulse_number == 1040  # exists beyond page
    assert rows[1020].prev_pulse_number == 1010  # interior, in-page


def test_get_pulses_single_row_page(spark):
    pulses = gen.make_pulses(start=1000, count=3)
    df = spark.createDataFrame(pulses, schemas.PULSES)
    page, _ = Q.get_pulses(df, ascending=True, limit=1, offset=1)
    row = page.collect()[0]
    assert row.pulse_number == 1010
    assert row.prev_pulse_number == 1000
    assert row.next_pulse_number == 1020


def test_get_pulses_interior_stays_page_local(spark):
    # 1030 exists but a timestamp filter drops it from the page: the
    # reference's interior walk then breaks the chain at 1020/1040 even
    # though the neighbor exists — pin that page-local behavior
    pulses = gen.make_pulses(start=1000, count=5)
    for p in pulses:
        if p["pulse_number"] == 1030:
            p["timestamp"] = 0
    df = spark.createDataFrame(pulses, schemas.PULSES)
    page, total = Q.get_pulses(df, ts_gte=1, ascending=True, limit=100)
    assert total == 4
    rows = {r.pulse_number: r for r in page.collect()}
    assert rows[1020].next_pulse_number == -1
    assert rows[1040].prev_pulse_number == -1
    # but the page edges still resolve via the table
    assert rows[1000].prev_pulse_number == -1
    assert rows[1040].next_pulse_number == -1


def test_get_pulses_4way_filters(spark):
    pulses = gen.make_pulses(start=1000, count=6)
    df = spark.createDataFrame(pulses, schemas.PULSES)
    _, total = Q.get_pulses(df, pulse_gt=1000, pulse_lt=1050, limit=100)
    assert total == 4
    _, total = Q.get_pulses(df, pulse_gte=1000, pulse_lte=1050, limit=100)
    assert total == 6
    _, total = Q.get_pulses(df, from_pulse=1020, limit=100)
    assert total == 3


def test_jet_drops_by_pulse_and_by_id(spark):
    drops = gen.make_jet_split_tree(seed=5, root_jet="0", start_pulse=2000, depth=2)
    df = spark.createDataFrame(drops, schemas.JET_DROPS)
    page, total = Q.get_jet_drops_by_pulse(df, 2010, limit=10)
    assert total == 2
    assert [r.jet_id for r in page.collect()] == ["00", "01"]

    drop, prev_d, next_d = Q.get_jet_drop_by_id(df, "00", 2010)
    assert drop.count() == 1
    assert [r.jet_id for r in prev_d.collect()] == ["0"]  # parent at 2000
    assert sorted(r.jet_id for r in next_d.collect()) == ["000", "001"]  # children


def test_jet_drops_by_jet_id_hierarchy(spark):
    drops = gen.make_jet_split_tree(seed=5, root_jet="0", start_pulse=2000, depth=2)
    df = spark.createDataFrame(drops, schemas.JET_DROPS)
    page, total = Q.get_jet_drops_by_jet_id(df, "00", pulse_ascending=True)
    ids = [(r.pulse_number, r.jet_id) for r in page.collect()]
    # ancestors ("0") + self + descendants (000,001)
    assert (2000, "0") in ids and (2010, "00") in ids
    assert (2020, "000") in ids and (2020, "001") in ids
    assert (2010, "01") not in ids
    assert total == len(ids)


def test_hash_chain_enrichment(spark):
    drops = gen.make_jet_split_tree(seed=5, root_jet="", start_pulse=2000, depth=1)
    df = spark.createDataFrame(drops, schemas.JET_DROPS)
    edges = J.hash_chain_edges(df).collect()
    got = sorted((e.parent_jet_id, e.child_jet_id) for e in edges)
    assert got == [("", "0"), ("", "1")]


def test_search_dispatch(spark, flat_seed):
    from block_explorer_spark.functions.refs import base58_encode

    pulses, drops, records = flat_seed
    kind, df = Q.search(pulses, drops, records, str(pulses.collect()[0].pulse_number))
    assert kind == "pulse" and df.count() == 1
    d0 = drops.collect()[0]
    kind, df = Q.search(pulses, drops, records, f"{d0.jet_id}:{d0.pulse_number}")
    assert kind == "jet_drop" and df.count() == 1
    # object ref -> lifeline; record ref -> record (handlers.go:515-553)
    r0 = records.collect()[0]
    kind, df = Q.search(pulses, drops, records, base58_encode(bytes(r0.object_reference)))
    assert kind == "lifeline" and df.count() >= 1
    kind, df = Q.search(pulses, drops, records, base58_encode(bytes(r0.reference)))
    assert kind == "record" and df.count() == 1


def _pulse_row(pn, prev, nxt, ts):
    return {
        "pulse_number": pn,
        "prev_pulse_number": prev,
        "next_pulse_number": nxt,
        "is_complete": False,
        "is_sequential": False,
        "timestamp": ts,
        "jet_drop_amount": 0,
        "record_amount": 0,
    }


def test_get_pulses_different_next_at_last_pulse(spark):
    """Irregular cadence: stored links are real, page repair keeps the
    true chain and sentinels the never-saved edges.

    reference: etl/storage/storage_test.go:1461-1514
    """
    rows = [
        _pulse_row(66666666, 66666665, 66666667, 66666666),
        # pulsar was down: next pulse is not the nominal one
        _pulse_row(66666670, 66666666, 66666671, 66666670),
        _pulse_row(66666671, 66666670, 66666672, 66666671),
    ]
    df = spark.createDataFrame(rows, schemas.PULSES)
    page, total = Q.get_pulses(df, limit=100)
    got = page.collect()
    assert total == 3
    assert [r.pulse_number for r in got] == [66666671, 66666670, 66666666]
    assert got[0].next_pulse_number == -1  # 66666672 never saved
    assert got[1].next_pulse_number == 66666671
    assert got[1].prev_pulse_number == 66666666
    assert got[2].next_pulse_number == 66666670
    assert got[2].prev_pulse_number == -1  # 66666665 never saved


def test_get_pulses_missing_data_different_next(spark):
    """Gap between stored pulses: the page's interior next links point
    at the next SAVED pulse, not the stored nominal link.

    reference: etl/storage/storage_test.go:1516-1569
    """
    rows = [
        _pulse_row(66666666, 66666665, 66666667, 66666666),
        _pulse_row(66666667, 66666666, 66666668, 66666667),
        # pulsar was down: jumps to 66666680
        _pulse_row(66666680, 66666667, 66666681, 66666680),
    ]
    df = spark.createDataFrame(rows, schemas.PULSES)
    page, total = Q.get_pulses(df, limit=100)
    got = page.collect()
    assert total == 3
    assert [r.pulse_number for r in got] == [66666680, 66666667, 66666666]
    assert got[0].next_pulse_number == -1
    assert got[1].next_pulse_number == 66666680
    assert got[1].prev_pulse_number == 66666666
    assert got[2].next_pulse_number == 66666667
    assert got[2].prev_pulse_number == -1


def test_get_pulses_missing_data_different_next_in_top(spark):
    """Same chain but offset=1: the page head's next link must reach
    the off-page pulse above it (edge lookup beyond the page).

    reference: etl/storage/storage_test.go:1571-1619
    """
    rows = [
        _pulse_row(66666666, 66666665, 66666667, 66666666),
        _pulse_row(66666667, 66666666, 66666668, 66666667),
        _pulse_row(66666680, 66666667, 66666681, 66666680),
    ]
    df = spark.createDataFrame(rows, schemas.PULSES)
    page, total = Q.get_pulses(df, limit=100, offset=1)
    got = page.collect()
    assert total == 3
    assert [r.pulse_number for r in got] == [66666667, 66666666]
    assert got[0].next_pulse_number == 66666680  # off-page, still linked
    assert got[0].prev_pulse_number == 66666666
    assert got[1].next_pulse_number == 66666667
    assert got[1].prev_pulse_number == -1


# ---------------------------------------------------------------------------
# GetPulses filter-combination semantics ported from the reference suite
# (etl/storage/storage_test.go:1183-1460)
# ---------------------------------------------------------------------------


def _ref_pulse(pn: int, prev: int, nxt: int) -> dict:
    """A pulse row as the reference's testutils.CreatePulse shapes it:
    timestamp numerically equals the pulse number (storage_test.go
    leans on that to reuse pulse numbers as timestamp bounds)."""
    return {
        "pulse_number": pn,
        "prev_pulse_number": prev,
        "next_pulse_number": nxt,
        "is_complete": False,
        "is_sequential": False,
        "timestamp": pn,
        "jet_drop_amount": 0,
        "record_amount": 0,
    }


def _ref_chain(spark, n=4, base=66666666):
    rows = [_ref_pulse(base + i, base + i - 1, base + i + 1) for i in range(n)]
    return spark.createDataFrame(rows, schemas.PULSES)


def test_get_pulses_timestamp_range_ref(spark):
    """reference: etl/storage/storage_test.go:1183-1232 — ts range
    [second, third] picks exactly those two, desc, stored links kept
    because both neighbors exist in the table."""
    df = _ref_chain(spark)
    b = 66666666
    page, total = Q.get_pulses(df, ts_lte=b + 2, ts_gte=b + 1, ascending=False, limit=100)
    rows = page.collect()
    assert total == 2
    assert [r.pulse_number for r in rows] == [b + 2, b + 1]
    by = {r.pulse_number: r for r in rows}
    assert (by[b + 2].prev_pulse_number, by[b + 2].next_pulse_number) == (b + 1, b + 3)
    assert (by[b + 1].prev_pulse_number, by[b + 1].next_pulse_number) == (b, b + 2)


def test_get_pulses_from_pulse_ref(spark):
    """reference: etl/storage/storage_test.go:1233-1273 — from_pulse
    truncates above; the first pulse's stored prev names a pulse that
    was never saved, so it repairs to the missing sentinel."""
    df = _ref_chain(spark, n=3)
    b = 66666666
    page, total = Q.get_pulses(df, from_pulse=b + 1, ascending=False, limit=100)
    rows = page.collect()
    assert total == 2
    assert [r.pulse_number for r in rows] == [b + 1, b]
    by = {r.pulse_number: r for r in rows}
    assert by[b].prev_pulse_number == -1  # b-1 never existed
    assert by[b + 1].next_pulse_number == b + 2  # exists beyond the slice


def test_get_pulses_all_params_ref(spark):
    """reference: etl/storage/storage_test.go:1274-1324 — every filter
    at once: from_pulse + ts range + desc + limit 1 offset 1 lands on
    exactly the second pulse, total counts the pre-page slice."""
    df = _ref_chain(spark)
    b = 66666666
    page, total = Q.get_pulses(
        df, from_pulse=b + 2, ts_lte=b + 3, ts_gte=b + 1,
        ascending=False, limit=1, offset=1,
    )
    rows = page.collect()
    assert total == 2
    assert len(rows) == 1
    got = rows[0]
    assert got.pulse_number == b + 1
    assert (got.prev_pulse_number, got.next_pulse_number) == (b, b + 2)


def test_get_pulses_pulse_number_filters_ref(spark):
    """reference: etl/storage/storage_test.go:1325-1460 — the 4
    one-sided pulse-number bounds and both full-table sort orders,
    with the complete expected ordering verified element-wise."""
    pulses = gen.make_pulses(start=4_000_000, count=10)
    pns = [p["pulse_number"] for p in pulses]
    df = spark.createDataFrame(pulses, schemas.PULSES)

    page, total = Q.get_pulses(df, pulse_lte=pns[-2], limit=100)
    assert total == 9
    assert [r.pulse_number for r in page.collect()] == list(reversed(pns[:9]))

    page, total = Q.get_pulses(df, pulse_lt=pns[-2], limit=100)
    assert total == 8
    assert [r.pulse_number for r in page.collect()] == list(reversed(pns[:8]))

    page, total = Q.get_pulses(df, pulse_gte=pns[2], limit=100)
    assert total == 8
    assert [r.pulse_number for r in page.collect()] == list(reversed(pns[2:]))

    page, total = Q.get_pulses(df, pulse_gt=pns[2], limit=100)
    assert total == 7
    assert [r.pulse_number for r in page.collect()] == list(reversed(pns[3:]))

    page, total = Q.get_pulses(df, ascending=True, limit=100)
    assert total == 10
    assert [r.pulse_number for r in page.collect()] == pns

    page, total = Q.get_pulses(df, ascending=False, limit=100)
    assert total == 10
    assert [r.pulse_number for r in page.collect()] == list(reversed(pns))


def test_get_records_by_jet_drop_ref(spark):
    """reference: etl/storage/storage_test.go:1621-1708 — the 6
    GetRecordsByJetDrop sub-cases: happy, type filter, limit (total
    unaffected), offset, from_index cursor, empty drop."""
    P = 4_000_010

    def rec(i: int, jet: str, typ: str, order: int) -> dict:
        return {
            "reference": bytes([i]) * 8,
            "type": typ,
            "object_reference": b"obj",
            "prototype_reference": b"proto",
            "payload": b"",
            "prev_record_reference": None,
            "hash": b"h",
            "raw_data": b"r",
            "jet_id": jet,
            "pulse_number": P,
            "order": order,
            "timestamp": P,
        }

    rows = [
        rec(1, "01", "result", 1),
        rec(2, "01", "state", 2),
        rec(3, "01", "state", 3),
        rec(4, "10", "state", 1),  # other jet drop
    ]
    df = spark.createDataFrame(rows, schemas.RECORDS)

    page, total = Q.get_records_by_jet_drop(df, "01", P, limit=1000)
    assert total == 3 and len(page.collect()) == 3

    page, total = Q.get_records_by_jet_drop(df, "01", P, record_type="result", limit=1000)
    got = page.collect()
    assert total == 1 and [r.order for r in got] == [1]

    page, total = Q.get_records_by_jet_drop(df, "01", P, limit=2)
    assert total == 3
    assert [r.order for r in page.collect()] == [1, 2]

    page, total = Q.get_records_by_jet_drop(df, "01", P, limit=1000, offset=1)
    assert total == 3
    assert [r.order for r in page.collect()] == [2, 3]

    page, total = Q.get_records_by_jet_drop(df, "01", P, cursor=(P, 2), limit=1000)
    assert total == 2
    assert [r.order for r in page.collect()] == [2, 3]

    page, total = Q.get_records_by_jet_drop(df, "00", P, limit=1000)
    assert total == 0 and page.collect() == []


def test_serving_fast_paths_match_declarative(spark):
    """The Arrow serving form of the pulses list (get_pulses_rows)
    must agree with the declarative DataFrame form on every
    filter/sort/offset shape — the REST layer serves from it, so this
    pin is what keeps the two from drifting."""
    pulses = gen.make_pulses(start=1000, count=8, gaps=(2, 5))
    df = spark.createDataFrame(pulses, schemas.PULSES)
    tables = Q.ArrowTables(pulses=df.toArrow())
    configs = [
        dict(ascending=False, limit=3),
        dict(ascending=True, limit=3, offset=1),
        dict(ascending=True, limit=1, offset=1),
        dict(ascending=False, limit=100),
        dict(pulse_gt=1000, pulse_lt=1060, ascending=True, limit=100),
        dict(from_pulse=1030, limit=2),
        dict(ascending=True, limit=5, offset=50),  # empty page
    ]
    for cfg in configs:
        page, total = Q.get_pulses(df, **cfg)
        want = [
            (r.pulse_number, r.prev_pulse_number, r.next_pulse_number)
            for r in page.collect()
        ]
        rows, fast_total = Q.get_pulses_rows(tables, **cfg)
        got = [
            (r["pulse_number"], r["prev_pulse_number"], r["next_pulse_number"])
            for r in rows
        ]
        assert got == want, cfg
        assert fast_total == total, cfg


def test_jet_drop_point_fast_path_matches_declarative(spark):
    _pulses, drops, _records = gen.make_flat_seed(
        seed=11, n_pulses=6, n_drops=40, n_records=40
    )
    df = spark.createDataFrame(drops, schemas.JET_DROPS)
    tables = Q.ArrowTables(jet_drops=df.toArrow())
    sample = df.select("jet_id", "pulse_number").limit(3).collect()
    for s in sample:
        d0, p0, n0 = Q.get_jet_drop_by_id(df, s.jet_id, s.pulse_number)
        want = (
            {(r.jet_id, r.pulse_number) for r in d0.collect()},
            {(r.jet_id, r.pulse_number) for r in p0.collect()},
            {(r.jet_id, r.pulse_number) for r in n0.collect()},
        )
        drop, prev, nxt = Q.get_jet_drop_by_id_rows(tables, s.jet_id, s.pulse_number)
        got = (
            {(r["jet_id"], r["pulse_number"]) for r in drop},
            {(r["jet_id"], r["pulse_number"]) for r in prev},
            {(r["jet_id"], r["pulse_number"]) for r in nxt},
        )
        assert got == want, (s.jet_id, s.pulse_number)
