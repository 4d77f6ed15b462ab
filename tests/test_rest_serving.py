"""The REST edge's read path: one Arrow function per endpoint over the
live store or over collected frames (plans/queries.py serving forms).

(a) Freshness: a warehouse-mode server serves a pulse committed after
    it started, on every pulse-keyed endpoint.
(b) Census: in warehouse mode under the byte gate, each of the 8
    endpoints runs no Spark job.
(c) Placement equivalence: forcing the mapInArrow placement (store
    reads with placement.MERGE_BYTES = 0, frames with placement.ROWS =
    0) returns byte-identical bodies, on pages 2-5 and on pages that
    straddle two files.
(d) An unexpected error in an endpoint is a counted 500; warmup only
    forgives a 4xx.
"""

from __future__ import annotations

import json
import random
import urllib.error
import urllib.request

import pyarrow as pa
import pytest

from block_explorer_spark import placement
from block_explorer_spark.functions.refs import base58_encode
from block_explorer_spark.plans import queries as Q
from block_explorer_spark.rest import BlockExplorerApi, HttpError, serve
from block_explorer_spark.sources import generators as gen
from block_explorer_spark.sources import parquet as pq
from block_explorer_spark.streaming import pipeline as P

P0 = 4_500_960  # the chain straddles pulse buckets 4500 and 4501
PULSES = [P0 + 10 * i for i in range(6)]
SPLIT = PULSES[2]  # committed in two halves: two files per table
OBJ_A = bytes(range(100, 132))  # a state in every drop of every pulse
OBJ_B = bytes(range(140, 172))  # one state, in the split pulse
LOST = bytes(range(200, 232))  # never stored


def _jets(pn: int) -> list[str]:
    return ["00", "01", "1"] if pn == PULSES[-1] else ["00", "01", "10", "11"]


def _chain():
    """Pulses, drops (each jet's first_prev_hash names the same or
    parent jet one pulse back, so the hash chain has edges) and 3-4
    records per drop."""
    rng = random.Random(7)
    pulses = gen.make_pulses(start=P0, count=len(PULSES), complete=False, sequential=False)
    drops, records, prev = [], [], {}
    for pn in PULSES:
        ts = pulses[PULSES.index(pn)]["timestamp"]
        here = {}
        for j in _jets(pn):
            parents = [prev[j]] if j in prev else [prev[c] for c in (j + "0", j + "1") if c in prev]
            d = gen.make_jet_drop(
                rng, pn, j, record_amount=3, timestamp=ts,
                first_prev_hash=parents[0] if parents else None,
                second_prev_hash=parents[1] if len(parents) > 1 else None,
            )
            drops.append(d)
            here[j] = d["hash"]
            kinds = [("state", OBJ_A), ("request", None), ("state", None)]
            if pn == SPLIT and j == "00":
                kinds.append(("state", OBJ_B))
            for order, (kind, obj) in enumerate(kinds):
                records.append(gen.make_record(
                    rng, pn, j, order=order, rec_type=kind, object_reference=obj, timestamp=ts,
                ))
        prev = here
    return pulses, drops, records


def _table(name: str, rows: list[dict]):
    cols = [f.name for f in pq.TABLE_SCHEMAS[name].fields]
    return pa.Table.from_pylist([{c: r.get(c) for c in cols} for r in rows],
                                schema=pq._arrow_schema(name))


def _commit(spark, base, pulses, drops, records):
    batches = {"jet_drops": _table("jet_drops", drops), "records": _table("records", records)}
    if pulses:
        batches["pulses"] = _table("pulses", pulses)
    pq.upsert_many(spark, base, batches)


def _build(spark, base: str) -> None:
    """One commit per pulse; the split pulse lands in two commits, its
    "00" drop's records cut between them. Then a control pass."""
    pulses, drops, records = _chain()
    for p in pulses:
        pn = p["pulse_number"]
        d = [r for r in drops if r["pulse_number"] == pn]
        r = [x for x in records if x["pulse_number"] == pn]
        if pn != SPLIT:
            _commit(spark, base, [p], d, r)
            continue
        first = [x for x in r if x["jet_id"] == "01" or (x["jet_id"] == "00" and x["order"] < 2)]
        _commit(spark, base, [p], d[:2], first)
        _commit(spark, base, [], d[2:], [x for x in r if x not in first])
    P.run_control_pass(spark, base)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("serving") / "store")
    _build(spark, base)
    return base


def _get(url: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _requests() -> list[str]:
    a, b, lost = (base58_encode(x) for x in (OBJ_A, OBJ_B, LOST))
    p = PULSES
    _, _, records = _chain()
    rec = base58_encode(records[5]["reference"])
    return [
        "/api/v1/pulses?limit=2&offset=2",
        "/api/v1/pulses?limit=2&offset=4&sort_by=pulse_number_asc",
        f"/api/v1/pulses?limit=3&pulse_number_gte={p[1]}&pulse_number_lt={p[5]}",
        f"/api/v1/pulses?from_pulse_number={p[3]}",
        *(f"/api/v1/pulses/{pn}" for pn in p),
        f"/api/v1/pulses/{p[0] + 5}",
        f"/api/v1/pulses/{SPLIT}/jet-drops?limit=2&offset=1",
        f"/api/v1/pulses/{SPLIT}/jet-drops?limit=2&offset=2",
        f"/api/v1/pulses/{p[3]}/jet-drops?from_jet_drop_id=01:{p[3]}",
        f"/api/v1/jet-drops/00:{p[0]}",
        f"/api/v1/jet-drops/10:{SPLIT}",
        f"/api/v1/jet-drops/1:{p[5]}",
        f"/api/v1/jet-drops/11:{p[4]}",
        f"/api/v1/jet-drops/0:{p[2]}",
        f"/api/v1/jet-drops/00:{SPLIT}/records?limit=2&offset=1",
        f"/api/v1/jet-drops/00:{SPLIT}/records?limit=1&offset=2",
        f"/api/v1/jet-drops/01:{p[1]}/records?type=state",
        f"/api/v1/jet-drops/00:{SPLIT}/records?from_index={SPLIT}:1",
        "/api/v1/jets/0/jet-drops?limit=5",
        "/api/v1/jets/00/jet-drops?limit=3&sort_by=pulse_number_asc,jet_id_desc",
        f"/api/v1/jets/*/jet-drops?limit=10&pulse_number_gte={SPLIT}",
        "/api/v1/jets/1/jet-drops",
        f"/api/v1/lifeline/{a}/records?limit=5&offset=5",
        f"/api/v1/lifeline/{a}/records?limit=5&offset=10&sort_by=index_asc",
        f"/api/v1/lifeline/{a}/records?limit=4&pulse_number_gt={p[0]}&pulse_number_lt={p[4]}",
        f"/api/v1/lifeline/{a}/records?limit=3&from_index={p[3]}:0",
        f"/api/v1/lifeline/{b}/records",
        f"/api/v1/lifeline/{lost}/records",
        f"/api/v1/search?value={a}",
        f"/api/v1/search?value={rec}",
        f"/api/v1/search?value={SPLIT}",
        f"/api/v1/search?value=00:{SPLIT}",
        f"/api/v1/search?value={lost}",
    ]


def _bodies(impl: BlockExplorerApi) -> list[tuple[int, bytes]]:
    server = serve(impl, warm=False)
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}"
        return [_get(url + path) for path in _requests()]
    finally:
        server.shutdown()
        server.server_close()


def test_mapinarrow_placement_returns_identical_bodies(spark, store, monkeypatch):
    driver = _bodies(BlockExplorerApi(warehouse_base=store, spark=spark))
    assert [s for s, _ in driver].count(200) >= len(driver) - 4
    with monkeypatch.context() as m:
        m.setattr(placement, "MERGE_BYTES", 0)
        assert _bodies(BlockExplorerApi(warehouse_base=store, spark=spark)) == driver
    frames = [pq.read_table(spark, store, n) for n in ("pulses", "jet_drops", "records")]
    assert frames[2].rdd.getNumPartitions() > 1  # partial answers to merge
    assert _bodies(BlockExplorerApi(*frames)) == driver
    with monkeypatch.context() as m:
        m.setattr(placement, "ROWS", 0)
        impl = BlockExplorerApi(*frames)
        assert all(not isinstance(t, pa.Table) for t in impl._frames.tables.values())
        assert _bodies(impl) == driver


def test_pages_straddle_files(store):
    """The store lays the split pulse's drops and one drop's records
    across two files, so those requests above read both."""
    impl = BlockExplorerApi(warehouse_base=store)
    t = impl._tables()
    _m, rels = pq._pulse_rels(store, "jet_drops", SPLIT, SPLIT, t.snap)
    assert len(rels) == 2
    _, body = impl.jet_drops_by_pulse(str(SPLIT), {"limit": ["2"], "offset": ["1"]})
    assert [d["jet_id"] for d in body["result"]] == ["01", "10"]
    _, body = impl.jet_drop_records(f"00:{SPLIT}", {"limit": ["2"], "offset": ["1"]})
    assert [r["index"] for r in body["result"]] == [f"{SPLIT}:1", f"{SPLIT}:2"]
    assert body["total"] == 4


def _census_calls(impl: BlockExplorerApi):
    a = base58_encode(OBJ_A)
    return [
        lambda: impl.pulses_list({"limit": ["5"], "offset": ["5"]}),
        lambda: impl.pulse_by_number(str(SPLIT)),
        lambda: impl.jet_drops_by_pulse(str(SPLIT), {"limit": ["2"], "offset": ["1"]}),
        lambda: impl.jet_drop_by_id(f"10:{SPLIT}"),
        lambda: impl.jet_drops_by_jet_id("0", {"limit": ["5"]}),
        lambda: impl.jet_drop_records(f"00:{SPLIT}", {"limit": ["2"]}),
        lambda: impl.object_lifeline(a, {"limit": ["5"], "offset": ["5"]}),
        lambda: impl.search({"value": [a]}),
    ]


def _jobs(spark, group: str, call) -> list[int]:
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    try:
        sc.setLocalProperty("spark.jobGroup.id", group)
        call()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def test_warehouse_requests_run_no_spark_job(spark, store, monkeypatch):
    # positive control: the census sees a job when one runs
    assert _jobs(spark, "serving-census-probe", lambda: spark.range(3).count())
    impl = BlockExplorerApi(warehouse_base=store, spark=spark)
    for i, call in enumerate(_census_calls(impl)):
        assert _jobs(spark, f"serving-census-{i}", call) == [], i
    # above the byte gate the same requests scan through Spark
    monkeypatch.setattr(placement, "MERGE_BYTES", 0)
    assert _jobs(spark, "serving-census-gate", _census_calls(impl)[1])


def test_pulse_committed_after_serve_is_served(spark, tmp_path):
    base = str(tmp_path / "s")
    pulses, drops, records = _chain()
    old = PULSES[:4]
    _commit(
        spark, base, [p for p in pulses if p["pulse_number"] in old],
        [d for d in drops if d["pulse_number"] in old],
        [r for r in records if r["pulse_number"] in old],
    )
    P.run_control_pass(spark, base)
    impl = BlockExplorerApi(
        pq.read_table(spark, base, "pulses"), pq.read_table(spark, base, "jet_drops"),
        pq.read_table(spark, base, "records"), warehouse_base=base, spark=spark,
    )
    server = serve(impl)
    url = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        new = PULSES[4]
        fresh_obj = bytes(range(60, 92))
        rng = random.Random(3)
        new_records = [r for r in records if r["pulse_number"] == new] + [
            gen.make_record(rng, new, "00", order=9, object_reference=fresh_obj)
        ]
        _commit(
            spark, base, [p for p in pulses if p["pulse_number"] == new],
            [d for d in drops if d["pulse_number"] == new], new_records,
        )
        P.run_control_pass(spark, base)

        def body(path):
            status, raw = _get(url + path)
            assert status == 200, path
            return json.loads(raw)

        assert body(f"/api/v1/pulses/{new}")["is_complete"] is True
        assert body(f"/api/v1/pulses/{new}/jet-drops")["total"] == 4
        assert body(f"/api/v1/jet-drops/00:{new}")["pulse_number"] == new
        assert body(f"/api/v1/jet-drops/00:{new}/records")["total"] == 4
        assert body("/api/v1/pulses?limit=1")["result"][0]["pulse_number"] == new
        assert body(f"/api/v1/pulses/{old[-1]}")["next_pulse_number"] == new
        lifeline = body(f"/api/v1/lifeline/{base58_encode(fresh_obj)}/records")
        assert [r["index"] for r in lifeline["result"]] == [f"{new}:9"]
    finally:
        server.shutdown()
        server.server_close()


def test_endpoint_fault_is_a_counted_500(store, monkeypatch):
    impl = BlockExplorerApi(warehouse_base=store)
    server = serve(impl, warm=False)
    try:
        def boom(*_a, **_kw):
            raise RuntimeError("injected")

        monkeypatch.setattr(Q, "get_pulse_row", boom)
        url = f"http://127.0.0.1:{server.server_address[1]}"
        assert _get(f"{url}/api/v1/pulses/{SPLIT}") == (500, b"{}")
        assert impl.metrics.snapshot()["get_pulse"]["errors"] == 1
        assert _get(f"{url}/api/v1/pulses/x")[0] == 400  # a 4xx is no error
        assert impl.metrics.snapshot()["get_pulse"]["errors"] == 1
        # warmup forgives only a 4xx: the fault propagates out of serve()
        with pytest.raises(RuntimeError, match="injected"):
            serve(impl)
        monkeypatch.undo()
        with pytest.raises(HttpError):
            impl.pulse_by_number(str(P0 + 5))
        assert impl.warmup() == 8
    finally:
        server.shutdown()
        server.server_close()
