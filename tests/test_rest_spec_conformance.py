"""Round-9 REST spec-diff: the handler-test cases NOT yet pinned by
test_rest_golden.py, ported table-for-table from the reference suite
(api/handlers_test.go — the case table, not the code). Together the
two files cite every reference handler test function:

  here: TestObjectLifeline_TimestampRange (116-192),
        TestPulse_PulseWithRecords (416-444),
        TestPulses_OnePulse (500-525), _PulsesWithRecords (526-565),
        _Empty (566-580), _Limit_Error (581-603),
        _Offset_Error (604-626), _TimestampRange (685-738),
        _PulseNumberFilters (739-943, all 6 subtests),
        TestServer_JetDropsByJetID_NextPrevTests (1632-1794, all 5),
        _NextPrevTests_Siblings (1795-2199, representative 4-chain
        wildcard case; the split-tree golden covers the jet-tree
        variants).

Like the golden file, every test talks to the running stdlib HTTP
facade and asserts wire bodies, including the mapper rule that -1
sentinel links are OMITTED fields (api/mappers.go:57-75) where the
reference's generated client surfaces them as nil.
"""

from __future__ import annotations

import contextlib
import json
import random
import urllib.error
import urllib.request

import pyarrow as pa
import pytest

from block_explorer_spark import schemas
from block_explorer_spark.functions.refs import base58_encode
from block_explorer_spark.rest import BlockExplorerApi, serve
from block_explorer_spark.sources import generators as gen

P0 = 66_666_666  # the reference's pulse-filter seed value


def get(base_url, path):
    try:
        with urllib.request.urlopen(base_url + path) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def bad_request(failures):
    return {
        "code": "Bad Request",
        "message": "Invalid query or path parameters",
        "validation_failures": [
            {"property": p, "failure_reason": r} for p, r in failures
        ],
    }


@contextlib.contextmanager
def rest_server(spark, pulses, drops, records):
    api_impl = BlockExplorerApi(
        spark.createDataFrame(pulses, schemas.PULSES).cache(),
        spark.createDataFrame(drops, schemas.JET_DROPS).cache(),
        spark.createDataFrame(records, schemas.RECORDS).cache(),
    )
    server = serve(api_impl, warm=False)
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}"
    finally:
        server.shutdown()


def _pulse(pn, prev, nxt, ts, complete=False):
    return {
        "pulse_number": pn,
        "prev_pulse_number": prev,
        "next_pulse_number": nxt,
        "is_complete": complete,
        "is_sequential": False,
        "timestamp": ts,
        "jet_drop_amount": 0,
        "record_amount": 0,
    }


# ---------------------------------------------------------------------------
# ObjectLifeline_TimestampRange (handlers_test.go:116-192)
# ---------------------------------------------------------------------------


OBJ_REF = bytes(range(32))
NOISE_REF = bytes(range(32, 64))
LP0 = 4_000_000


@pytest.fixture(scope="module")
def lifeline_ts_url(spark):
    """The reference seeding: 4 pulses, same jet in each, 2 ordered
    state records of OBJ_REF per pulse, plus a noise object in the
    second pulse. Record timestamps = their pulse's timestamp."""
    rng = random.Random(23)
    pulses = gen.make_pulses(start=LP0, count=4, base_ts=1_700_000_000)
    ts_of = {p["pulse_number"]: p["timestamp"] for p in pulses}
    drops, records = [], []
    for p in pulses:
        pn = p["pulse_number"]
        drops.append(gen.make_jet_drop(rng, pn, "000", timestamp=ts_of[pn]))
        for order in range(2):
            records.append(
                gen.make_record(
                    rng, pn, "000", order=order, rec_type="state",
                    object_reference=OBJ_REF, timestamp=ts_of[pn],
                )
            )
    # incorrect object, correct pulse (second pulse)
    records.append(
        gen.make_record(
            rng, LP0 + 10, "000", order=2, rec_type="state",
            object_reference=NOISE_REF, timestamp=ts_of[LP0 + 10],
        )
    )
    with rest_server(spark, pulses, drops, records) as base:
        yield base, ts_of


def test_lifeline_timestamp_range(lifeline_ts_url):
    """handlers_test.go:116-192 — [ts(p2), ts(p3)] keeps the middle
    two pulses' records, desc order by default, noise object excluded."""
    base, ts_of = lifeline_ts_url
    q = (
        f"/api/v1/lifeline/{base58_encode(OBJ_REF)}/records?limit=20"
        f"&timestamp_lte={ts_of[LP0 + 20]}&timestamp_gte={ts_of[LP0 + 10]}"
    )
    status, body = get(base, q)
    assert status == 200
    assert body["total"] == 4
    assert [r["index"] for r in body["result"]] == [
        f"{LP0 + 20}:1",
        f"{LP0 + 20}:0",
        f"{LP0 + 10}:1",
        f"{LP0 + 10}:0",
    ]


# ---------------------------------------------------------------------------
# Pulse/Pulses amount aggregation (handlers_test.go:416-444, 526-565)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def amounts_url(spark):
    """Two incomplete pulses; first carries drops of 5 and 1 records,
    second a drop of 3. Counters are NOT hand-set: they are derived
    from the drops by the A2 group-by (drops per pulse, summed
    record_amount) that the control pass materializes into pulses —
    so these tests pin derive+serve end-to-end."""
    rng = random.Random(29)
    pulses = [
        _pulse(LP0, LP0 - 10, LP0 + 10, 1_700_000_100),
        _pulse(LP0 + 10, LP0, LP0 + 20, 1_700_000_110),
    ]
    drops = [
        gen.make_jet_drop(rng, LP0, "000", record_amount=5),
        gen.make_jet_drop(rng, LP0, "001", record_amount=1),
        gen.make_jet_drop(rng, LP0 + 10, "000", record_amount=3),
    ]
    counts = (
        pa.Table.from_pylist(drops)
        .group_by("pulse_number")
        .aggregate([("pulse_number", "count"), ("record_amount", "sum")])
        .to_pylist()
    )
    derived = {
        r["pulse_number"]: (r["pulse_number_count"], r["record_amount_sum"])
        for r in counts
    }
    for p in pulses:
        p["jet_drop_amount"], p["record_amount"] = derived[p["pulse_number"]]
    with rest_server(spark, pulses, drops, []) as base:
        yield base


def test_pulse_with_records_amounts(amounts_url):
    """handlers_test.go:416-444 — point lookup carries the aggregated
    jet-drop/record amounts and is_complete=false."""
    status, body = get(amounts_url, f"/api/v1/pulses/{LP0}")
    assert status == 200
    assert body["pulse_number"] == LP0
    assert body["is_complete"] is False
    assert body["jet_drop_amount"] == 2
    assert body["record_amount"] == 6


def test_pulses_with_records_amounts(amounts_url):
    """handlers_test.go:526-565 — list endpoint, desc, per-pulse
    aggregated amounts."""
    status, body = get(amounts_url, "/api/v1/pulses")
    assert status == 200
    assert body["total"] == 2
    first, second = body["result"]
    assert first["pulse_number"] == LP0 + 10
    assert (first["jet_drop_amount"], first["record_amount"]) == (1, 3)
    assert second["pulse_number"] == LP0
    assert (second["jet_drop_amount"], second["record_amount"]) == (2, 6)


# ---------------------------------------------------------------------------
# Pulses: one-pulse links, empty db, single-param errors
# (handlers_test.go:500-525, 566-626)
# ---------------------------------------------------------------------------


def test_pulses_one_pulse_links_absent(spark):
    """handlers_test.go:500-525 — a single stored pulse whose nominal
    links name never-saved neighbors serves with both links omitted
    (the reference's generated client sees nil)."""
    pulses = [_pulse(LP0, LP0 - 10, LP0 + 10, 1_700_000_100)]
    with rest_server(spark, pulses, [], []) as base:
        status, body = get(base, "/api/v1/pulses")
        assert status == 200
        assert body["total"] == 1
        (p,) = body["result"]
        assert p["pulse_number"] == LP0
        assert "prev_pulse_number" not in p
        assert "next_pulse_number" not in p


def test_pulses_empty_db(spark):
    """handlers_test.go:566-580 — empty storage answers 200/empty."""
    with rest_server(spark, [], [], []) as base:
        status, body = get(base, "/api/v1/pulses")
        assert status == 200
        assert body == {"total": 0, "result": []}


def test_pulses_limit_error(spark):
    """handlers_test.go:581-603"""
    with rest_server(spark, [], [], []) as base:
        status, body = get(base, "/api/v1/pulses?limit=200000000")
        assert status == 400
        assert body == bad_request([("limit", "should be in range [1, 1000]")])


def test_pulses_offset_error(spark):
    """handlers_test.go:604-626"""
    with rest_server(spark, [], [], []) as base:
        status, body = get(base, "/api/v1/pulses?offset=-10")
        assert status == 400
        assert body == bad_request([("offset", "should not be negative")])


# ---------------------------------------------------------------------------
# Pulses: timestamp range + pulse-number filters + sorts
# (handlers_test.go:685-943)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pnfilter_url(spark):
    """The reference's 4 consecutive pulses p1..p4 with stored links;
    p1's prev and p4's next name pulses that were never saved."""
    p1, p2, p3, p4, p5 = P0, P0 + 1, P0 + 2, P0 + 3, P0 + 4
    pulses = [
        _pulse(p1, 0, p2, 66_666_666),
        _pulse(p2, p1, p3, 66_666_667),
        _pulse(p3, p2, p4, 66_666_668),
        _pulse(p4, p3, p5, 66_666_669),
    ]
    with rest_server(spark, pulses, [], []) as base:
        yield base


def _links(p):
    return (p.get("prev_pulse_number"), p.get("next_pulse_number"))


def test_pulses_timestamp_range(pnfilter_url):
    """handlers_test.go:685-738 — [ts2, ts3] keeps the middle two,
    desc order."""
    status, body = get(
        pnfilter_url, "/api/v1/pulses?timestamp_lte=66666668&timestamp_gte=66666667"
    )
    assert status == 200
    assert body["total"] == 2
    assert [p["pulse_number"] for p in body["result"]] == [P0 + 2, P0 + 1]


def test_pulses_pn_lte(pnfilter_url):
    """handlers_test.go:790-824 (subtest pulse_number_lte) — note p3's
    next link names p4, which is OUTSIDE the filtered page but saved,
    so it IS served: link existence consults the full table."""
    status, body = get(pnfilter_url, f"/api/v1/pulses?pulse_number_lte={P0 + 2}")
    assert status == 200
    assert body["total"] == 3
    assert [p["pulse_number"] for p in body["result"]] == [P0 + 2, P0 + 1, P0]
    assert _links(body["result"][0]) == (P0 + 1, P0 + 3)
    assert _links(body["result"][1]) == (P0, P0 + 2)
    assert _links(body["result"][2]) == (None, P0 + 1)  # prev never saved


def test_pulses_pn_lt(pnfilter_url):
    """handlers_test.go (subtest pulse_number_lt)"""
    status, body = get(pnfilter_url, f"/api/v1/pulses?pulse_number_lt={P0 + 2}")
    assert status == 200
    assert body["total"] == 2
    assert [p["pulse_number"] for p in body["result"]] == [P0 + 1, P0]
    assert _links(body["result"][0]) == (P0, P0 + 2)
    assert _links(body["result"][1]) == (None, P0 + 1)


def test_pulses_pn_gte(pnfilter_url):
    """handlers_test.go (subtest pulse_number_gte) — p4's stored next
    names the never-saved p5: link omitted."""
    status, body = get(pnfilter_url, f"/api/v1/pulses?pulse_number_gte={P0 + 2}")
    assert status == 200
    assert body["total"] == 2
    assert [p["pulse_number"] for p in body["result"]] == [P0 + 3, P0 + 2]
    assert _links(body["result"][0]) == (P0 + 2, None)  # next never saved
    assert _links(body["result"][1]) == (P0 + 1, P0 + 3)


def test_pulses_pn_gt(pnfilter_url):
    """handlers_test.go (subtest pulse_number_gt)"""
    status, body = get(pnfilter_url, f"/api/v1/pulses?pulse_number_gt={P0 + 2}")
    assert status == 200
    assert body["total"] == 1
    assert [p["pulse_number"] for p in body["result"]] == [P0 + 3]
    assert _links(body["result"][0]) == (P0 + 2, None)


def test_pulses_sort_asc_full_links(pnfilter_url):
    """handlers_test.go (subtest "sort_by asc") — whole chain asc with
    both never-saved edge links omitted."""
    status, body = get(pnfilter_url, "/api/v1/pulses?sort_by=pulse_number_asc")
    assert status == 200
    assert body["total"] == 4
    assert [p["pulse_number"] for p in body["result"]] == [P0, P0 + 1, P0 + 2, P0 + 3]
    assert [_links(p) for p in body["result"]] == [
        (None, P0 + 1),
        (P0, P0 + 2),
        (P0 + 1, P0 + 3),
        (P0 + 2, None),
    ]


def test_pulses_sort_desc_full_links(pnfilter_url):
    """handlers_test.go (subtest "sort_by desc")"""
    status, body = get(pnfilter_url, "/api/v1/pulses?sort_by=pulse_number_desc")
    assert status == 200
    assert body["total"] == 4
    assert [p["pulse_number"] for p in body["result"]] == [P0 + 3, P0 + 2, P0 + 1, P0]
    assert [_links(p) for p in body["result"]] == [
        (P0 + 2, None),
        (P0 + 1, P0 + 3),
        (P0, P0 + 2),
        (None, P0 + 1),
    ]


# ---------------------------------------------------------------------------
# JetDropsByJetID next/prev over a hash chain (handlers_test.go:1632-1794)
# ---------------------------------------------------------------------------


JET = "0011"
JP0 = 4_100_000
N_CHAIN = 7


@pytest.fixture(scope="module")
def jetchain_url(spark):
    """The reference's GenerateJetDropsWithSomeJetID shape: one drop of
    the same jet in each of 7 pulses, hash-chained
    (drop[i].first_prev_hash = drop[i-1].hash)."""
    rng = random.Random(31)
    pulses = gen.make_pulses(start=JP0, count=N_CHAIN)
    drops = [
        gen.make_jet_drop(rng, JP0 + 10 * i, JET, timestamp=1_700_001_000 + i)
        for i in range(N_CHAIN)
    ]
    for i in range(1, N_CHAIN):
        drops[i]["first_prev_hash"] = drops[i - 1]["hash"]
        drops[i]["second_prev_hash"] = b""
    with rest_server(spark, pulses, drops, []) as base:
        yield base


def _jd_id(i):
    return {"jet_id": JET, "pulse_number": JP0 + 10 * i,
            "jet_drop_id": f"{JET}:{JP0 + 10 * i}"}


def _expect(i, lo, hi):
    """JetDropToAPI's prev/next for chain position i under no
    truncation: prev/next resolve through the FULL table (a neighbor
    outside the filtered page still serves), empty only at the chain
    ends."""
    return {
        "pos": i,
        "prev": [_jd_id(i - 1)] if i - 1 >= lo else [],
        "next": [_jd_id(i + 1)] if i + 1 <= hi else [],
    }


def _check_chain(body, positions, lo=0, hi=N_CHAIN - 1):
    assert body["total"] == len(positions)
    assert len(body["result"]) == len(positions)
    for jd, i in zip(body["result"], positions):
        want = _expect(i, lo, hi)
        assert jd["jet_id"] == JET and jd["pulse_number"] == JP0 + 10 * i
        assert jd["jet_drop_id"] == f"{JET}:{JP0 + 10 * i}"
        assert jd["prev_jet_drop_id"] == want["prev"], f"pos {i}"
        assert jd["next_jet_drop_id"] == want["next"], f"pos {i}"


def test_jetchain_gte_lte(jetchain_url):
    """handlers_test.go:1656-1679 — bounds [p1, p5], default desc;
    every in-page drop keeps BOTH links (p5's next is p6, outside the
    filter but in the table)."""
    q = f"pulse_number_gte={JP0 + 10}&pulse_number_lte={JP0 + 50}"
    status, body = get(jetchain_url, f"/api/v1/jets/{JET}/jet-drops?{q}")
    assert status == 200
    _check_chain(body, [5, 4, 3, 2, 1])


def test_jetchain_gte_lte_sort_asc(jetchain_url):
    """handlers_test.go:1681-1704 — same bounds, explicit asc sort."""
    q = (
        "sort_by=pulse_number_asc,jet_id_desc"
        f"&pulse_number_gte={JP0 + 10}&pulse_number_lte={JP0 + 50}"
    )
    status, body = get(jetchain_url, f"/api/v1/jets/{JET}/jet-drops?{q}")
    assert status == 200
    _check_chain(body, [1, 2, 3, 4, 5])


def test_jetchain_gte(jetchain_url):
    """handlers_test.go:1706-1731 — lower bound only: the chain head
    of the page keeps its prev, the table-last drop has no next."""
    status, body = get(
        jetchain_url, f"/api/v1/jets/{JET}/jet-drops?pulse_number_gte={JP0 + 10}"
    )
    assert status == 200
    _check_chain(body, [6, 5, 4, 3, 2, 1])


def test_jetchain_gte_sort_asc(jetchain_url):
    """handlers_test.go:1733-1758"""
    q = f"sort_by=pulse_number_asc,jet_id_desc&pulse_number_gte={JP0 + 10}"
    status, body = get(jetchain_url, f"/api/v1/jets/{JET}/jet-drops?{q}")
    assert status == 200
    _check_chain(body, [1, 2, 3, 4, 5, 6])


def test_jetchain_lte(jetchain_url):
    """handlers_test.go:1760-1793 — upper bound only: the table-first
    drop has no prev, the page-top drop keeps its next."""
    status, body = get(
        jetchain_url, f"/api/v1/jets/{JET}/jet-drops?pulse_number_lte={JP0 + 50}"
    )
    assert status == 200
    _check_chain(body, [5, 4, 3, 2, 1, 0])


# ---------------------------------------------------------------------------
# Siblings: 4 independent hash chains in the same pulses, wildcard jet
# (handlers_test.go:1795-2199, representative case)
# ---------------------------------------------------------------------------


def test_jetchain_siblings_wildcard(spark):
    """handlers_test.go:1843-1884 — four sibling chains live in the
    same pulses; /jets/*/jet-drops with [p1, p5] bounds returns
    (count-2)*4 drops and each drop's prev/next resolve within its OWN
    chain by hash, never crossing into a sibling."""
    rng = random.Random(37)
    jets = ["0000", "0001", "0010", "0100"]
    pulses = gen.make_pulses(start=JP0, count=N_CHAIN)
    chains = {}
    drops = []
    for jet in jets:
        chain = [
            gen.make_jet_drop(rng, JP0 + 10 * i, jet, timestamp=1_700_002_000 + i)
            for i in range(N_CHAIN)
        ]
        for i in range(1, N_CHAIN):
            chain[i]["first_prev_hash"] = chain[i - 1]["hash"]
            chain[i]["second_prev_hash"] = b""
        chains[jet] = chain
        drops.extend(chain)
    with rest_server(spark, pulses, drops, []) as base:
        q = f"pulse_number_gte={JP0 + 10}&pulse_number_lte={JP0 + 50}"
        status, body = get(base, f"/api/v1/jets/*/jet-drops?{q}")
        assert status == 200
        assert body["total"] == (N_CHAIN - 2) * 4
        assert len(body["result"]) == (N_CHAIN - 2) * 4
        for jd in body["result"]:
            jet = jd["jet_id"]
            i = (jd["pulse_number"] - JP0) // 10
            assert jet in chains and 1 <= i <= 5
            assert jd["prev_jet_drop_id"] == [
                {"jet_id": jet, "pulse_number": JP0 + 10 * (i - 1),
                 "jet_drop_id": f"{jet}:{JP0 + 10 * (i - 1)}"}
            ], (jet, i)
            assert jd["next_jet_drop_id"] == [
                {"jet_id": jet, "pulse_number": JP0 + 10 * (i + 1),
                 "jet_drop_id": f"{jet}:{JP0 + 10 * (i + 1)}"}
            ], (jet, i)
