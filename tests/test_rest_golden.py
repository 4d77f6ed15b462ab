"""Wire-level golden cases ported from the reference's handler tests.

Each test hits the running stdlib HTTP facade (block_explorer_spark/
rest.py) and asserts the exact JSON body / status the reference's echo
server produces; every case cites its api/handlers_test.go source
lines. This pins the endpoint contract — validation-failure
accumulation order, per-endpoint code/message quirks, envelope shapes
— at the same level the reference's own 2,635-line suite does.
"""

from __future__ import annotations

import json
import random
import urllib.error
import urllib.request

import pytest

from block_explorer_spark import schemas
from block_explorer_spark.functions.refs import base58_encode
from block_explorer_spark.rest import BlockExplorerApi, serve
from block_explorer_spark.sources import generators as gen

P0 = 4_000_000  # first seeded pulse; chain of 5 with step 10

OBJ_REF = bytes(range(32))  # seeded lifeline object
REC_REF = bytes(range(32, 64))  # its order-1 record reference
LOST_REF = bytes(range(64, 96))  # valid form, never stored


@pytest.fixture(scope="module")
def base_url(spark):
    rng = random.Random(13)
    pulses = gen.make_pulses(start=P0, count=5)
    drops = [
        gen.make_jet_drop(rng, P0 + 20, jet, timestamp=1_600_000_020)
        for jet in ("000", "001", "010")
    ] + [gen.make_jet_drop(rng, P0 + 30, "00", timestamp=1_600_000_030)]
    records = []
    # 3-state lifeline for OBJ_REF on the "000" drop (handlers_test
    # seeds via testutils.OrderedRecords, handlers_test.go:1322-1330)
    for order in range(3):
        r = gen.make_record(
            rng, P0 + 20, "000", order=order, rec_type="state",
            object_reference=OBJ_REF, timestamp=1_600_000_020,
        )
        records.append(r)
    records[1]["reference"] = REC_REF
    # noise records of other types on the same drop
    records.append(gen.make_record(rng, P0 + 20, "000", order=3, rec_type="request"))
    records.append(gen.make_record(rng, P0 + 20, "001", order=0, rec_type="result"))

    api_impl = BlockExplorerApi(
        spark.createDataFrame(pulses, schemas.PULSES).cache(),
        spark.createDataFrame(drops, schemas.JET_DROPS).cache(),
        spark.createDataFrame(records, schemas.RECORDS).cache(),
    )
    server = serve(api_impl, warm=False)
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def get(base_url, path):
    """GET returning (status, parsed_body) without raising on 4xx."""
    try:
        with urllib.request.urlopen(base_url + path) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def bad_request(failures, code="Bad Request", message_field="message"):
    return {
        "code": code,
        message_field: "Invalid query or path parameters",
        "validation_failures": [
            {"property": p, "failure_reason": r} for p, r in failures
        ],
    }


VALID_REF = base58_encode(bytes(32))  # parses, matches nothing


# ---------------------------------------------------------------------------
# ObjectLifeline
# ---------------------------------------------------------------------------


def test_lifeline_limit_error(base_url):
    """handlers_test.go:229-251"""
    status, body = get(base_url, f"/api/v1/lifeline/{VALID_REF}/records?limit=200000000")
    assert status == 400
    assert body == bad_request([("limit", "should be in range [1, 1000]")])


def test_lifeline_offset_error(base_url):
    """handlers_test.go:253-274"""
    status, body = get(base_url, f"/api/v1/lifeline/{VALID_REF}/records?offset=-10")
    assert status == 400
    assert body == bad_request([("offset", "should not be negative")])


def test_lifeline_sort_error(base_url):
    """handlers_test.go:276-297"""
    status, body = get(
        base_url, f"/api/v1/lifeline/{VALID_REF}/records?sort_by=not_supported_sort"
    )
    assert status == 400
    assert body == bad_request([("sort_by", "should be 'index_desc' or 'index_asc'")])


def test_lifeline_reference_format_error(base_url):
    """handlers_test.go:315-337"""
    status, body = get(base_url, "/api/v1/lifeline/not_valid_reference/records")
    assert status == 400
    assert body == bad_request([("object_reference", "wrong format")])


def test_lifeline_reference_empty_error(base_url):
    """handlers_test.go:339-361 (path of blanks -> 'empty reference')"""
    status, body = get(base_url, "/api/v1/lifeline/%20%20/records")
    assert status == 400
    assert body == bad_request([("object_reference", "empty reference")])


def test_lifeline_from_index_error(base_url):
    """handlers_test.go:363-385"""
    status, body = get(
        base_url, f"/api/v1/lifeline/{VALID_REF}/records?from_index=not_valid_index"
    )
    assert status == 400
    assert body == bad_request([("from_index", "invalid")])


BEYOND_INT64 = "99999999999999999999"


@pytest.mark.parametrize(
    "path, failure",
    [
        (
            f"/api/v1/lifeline/{base58_encode(OBJ_REF)}/records"
            f"?from_index={BEYOND_INT64}:1",
            ("from_index", "invalid"),
        ),
        (
            f"/api/v1/lifeline/{base58_encode(OBJ_REF)}/records"
            f"?timestamp_gte={BEYOND_INT64}",
            ("timestamp_gte", "invalid value"),
        ),
        (f"/api/v1/pulses?timestamp_lte={BEYOND_INT64}", ("timestamp_lte", "invalid value")),
        (f"/api/v1/pulses?offset={BEYOND_INT64}", ("offset", "invalid value")),
        (
            f"/api/v1/lifeline/{base58_encode(OBJ_REF)}/records?offset={BEYOND_INT64}",
            ("offset", "invalid value"),
        ),
        (
            f"/api/v1/jet-drops/000:{P0 + 20}/records?from_index=1:{BEYOND_INT64}",
            ("from_index", "invalid"),
        ),
    ],
)
def test_numbers_beyond_int64_are_validation_failures(base_url, path, failure):
    """The spec types these params int64: a value with more digits
    than int64 holds fails validation (400, the validation body),
    as strconv.ParseInt does in the reference — never a 500."""
    status, body = get(base_url, path)
    assert status == 400
    assert body == bad_request([failure])


def test_lifeline_no_records(base_url):
    """handlers_test.go:299-313 — unknown ref is 200 with empty page"""
    status, body = get(base_url, f"/api/v1/lifeline/{VALID_REF}/records")
    assert status == 200
    assert body == {"total": 0, "result": []}


def test_lifeline_happy_path_desc_default(base_url):
    """handlers_test.go:81-114 — state records only, index desc default"""
    status, body = get(base_url, f"/api/v1/lifeline/{base58_encode(OBJ_REF)}/records")
    assert status == 200
    assert body["total"] == 3
    assert [r["index"] for r in body["result"]] == [
        f"{P0 + 20}:2",
        f"{P0 + 20}:1",
        f"{P0 + 20}:0",
    ]
    assert all(r["type"] == "state" for r in body["result"])


def test_lifeline_sort_asc(base_url):
    """handlers_test.go:193-227"""
    status, body = get(
        base_url, f"/api/v1/lifeline/{base58_encode(OBJ_REF)}/records?sort_by=index_asc"
    )
    assert status == 200
    assert [r["index"] for r in body["result"]] == [
        f"{P0 + 20}:0",
        f"{P0 + 20}:1",
        f"{P0 + 20}:2",
    ]


# ---------------------------------------------------------------------------
# Pulse / Pulses
# ---------------------------------------------------------------------------


def test_pulse_happy_path(base_url):
    """handlers_test.go:387-414 — interior pulse carries real links"""
    status, body = get(base_url, f"/api/v1/pulses/{P0 + 20}")
    assert status == 200
    assert body["pulse_number"] == P0 + 20
    assert body["prev_pulse_number"] == P0 + 10
    assert body["next_pulse_number"] == P0 + 30
    assert body["is_complete"] is True


def test_pulse_edge_links_omitted(base_url):
    """api/mappers.go:57-75 — -1 sentinels are omitted fields"""
    status, body = get(base_url, f"/api/v1/pulses/{P0}")
    assert status == 200
    assert "prev_pulse_number" not in body  # P0-10 never saved
    status, body = get(base_url, f"/api/v1/pulses/{P0 + 40}")
    assert status == 200
    assert "next_pulse_number" not in body


def test_pulse_not_exist(base_url):
    """handlers_test.go:445-452"""
    status, _ = get(base_url, f"/api/v1/pulses/{P0 + 5}")
    assert status == 404


def test_pulse_wrong_format(base_url):
    """handlers_test.go:454-460"""
    status, _ = get(base_url, "/api/v1/pulses/wrong_type")
    assert status == 400


def test_pulse_greater_than_max(base_url):
    """handlers_test.go:462-468 — int64 overflow is a binding error"""
    status, _ = get(base_url, "/api/v1/pulses/92233720368547758071")
    assert status == 400


def test_pulses_several_errors(base_url):
    """handlers_test.go:627-654 — all failures accumulate, in order"""
    status, body = get(
        base_url, "/api/v1/pulses?limit=200000000&offset=-10&from_pulse_number=0"
    )
    assert status == 400
    assert body == bad_request(
        [
            ("limit", "should be in range [1, 1000]"),
            ("offset", "should not be negative"),
            ("pulse", "invalid"),
        ]
    )


def test_pulses_from_pulse_number(base_url):
    """handlers_test.go:656-684 — from_pulse_number is a <= bound"""
    status, body = get(base_url, f"/api/v1/pulses?from_pulse_number={P0}")
    assert status == 200
    assert body["total"] == 1
    assert body["result"][0]["pulse_number"] == P0


def test_pulses_happy_desc_default(base_url):
    """handlers_test.go:470-498"""
    status, body = get(base_url, "/api/v1/pulses")
    assert status == 200
    assert body["total"] == 5
    assert [p["pulse_number"] for p in body["result"]] == [
        P0 + 40, P0 + 30, P0 + 20, P0 + 10, P0,
    ]


# ---------------------------------------------------------------------------
# Jet drops
# ---------------------------------------------------------------------------


def test_jet_drops_by_pulse_happy_asc(base_url):
    """handlers_test.go:944-989 — jet_id asc order by default"""
    status, body = get(base_url, f"/api/v1/pulses/{P0 + 20}/jet-drops")
    assert status == 200
    assert body["total"] == 3
    assert [d["jet_drop_id"] for d in body["result"]] == [
        f"000:{P0 + 20}",
        f"001:{P0 + 20}",
        f"010:{P0 + 20}",
    ]


def test_jet_drops_by_pulse_invalid_pulse(base_url):
    """handlers.go:404-431 — code rendered '400' on this endpoint"""
    status, body = get(base_url, "/api/v1/pulses/100/jet-drops")
    assert status == 400
    assert body == bad_request([("pulse", "invalid")], code="400")


def test_jet_drop_by_id_happy(base_url):
    """handlers_test.go:1385-1426"""
    status, body = get(base_url, f"/api/v1/jet-drops/000:{P0 + 20}")
    assert status == 200
    assert body["jet_drop_id"] == f"000:{P0 + 20}"
    assert body["jet_id"] == "000"
    assert body["pulse_number"] == P0 + 20


def test_jet_drop_by_id_invalid(base_url):
    """handlers.go:45-58 — '400' code, wrapped 'invalid: ...' reason"""
    status, body = get(base_url, "/api/v1/jet-drops/not_valid:value")
    assert status == 400
    assert body["code"] == "400"
    assert body["validation_failures"][0]["property"] == "jet drop id"
    assert body["validation_failures"][0]["failure_reason"].startswith("invalid")


def test_jet_drop_records_several_errors(base_url):
    """handlers_test.go:2603-2635 — five failures, reference order"""
    status, body = get(
        base_url,
        "/api/v1/jet-drops/not_valid:value/records"
        "?limit=200000000&offset=-10&type=not_valid_type&from_index=not_valid_index",
    )
    assert status == 400
    assert body == bad_request(
        [
            ("limit", "should be in range [1, 1000]"),
            ("offset", "should not be negative"),
            ("jet_drop_id", "invalid"),
            ("from_index", "invalid"),
            ("type", "should be 'request', 'state' or 'result'"),
        ]
    )


def test_jet_drop_records_type_filter(base_url):
    """handlers_test.go:2462-2601 (type filter branch)"""
    status, body = get(base_url, f"/api/v1/jet-drops/000:{P0 + 20}/records?type=state")
    assert status == 200
    assert body["total"] == 3
    assert all(r["type"] == "state" for r in body["result"])


def test_jets_invalid_jet_id(base_url):
    """handlers.go:749-781 — jetIDRegexp mismatch"""
    status, body = get(base_url, "/api/v1/jets/2abc/jet-drops")
    assert status == 400
    assert body == bad_request(
        [("jet-id path parameter", "parameter does not match with jetID valid value")]
    )


def test_jets_sort_error(base_url):
    """handlers.go:705-723"""
    status, body = get(base_url, "/api/v1/jets/000/jet-drops?sort_by=bogus")
    assert status == 400
    assert body == bad_request(
        [
            (
                "sort_by",
                "query parameter 'sort_by' should be "
                "'pulse_number_asc,jet_id_desc' or 'pulse_number_desc,jet_id_asc'",
            )
        ]
    )


def test_jets_hierarchy_page(base_url):
    """handlers_test.go:2200-2460 — jet + ancestors + descendants"""
    status, body = get(base_url, "/api/v1/jets/000/jet-drops")
    assert status == 200
    # "000" itself (P0+20) plus its ancestor "00" (P0+30)
    got = {d["jet_drop_id"] for d in body["result"]}
    assert got == {f"000:{P0 + 20}", f"00:{P0 + 30}"}
    assert body["total"] == 2


# ---------------------------------------------------------------------------
# Search
# ---------------------------------------------------------------------------


def test_search_pulse(base_url):
    """handlers_test.go:1250-1264; e2e C5157 (search_test.go:61-71)"""
    status, body = get(base_url, f"/api/v1/search?value={P0 + 20}")
    assert status == 200
    assert body == {"type": "pulse", "meta": {"pulse_number": P0 + 20}}


def test_search_pulse_wrong_value(base_url):
    """handlers_test.go:1266-1279 (MinTimePulse-1)"""
    status, body = get(base_url, "/api/v1/search?value=65535")
    assert status == 400
    assert body == bad_request(
        [("value", "not valid pulse number")], message_field="description"
    )


def test_search_jet_drop(base_url):
    """handlers_test.go:1281-1296 — no storage check, echoes the id;
    e2e C5159 (search_test.go:83-94)"""
    status, body = get(base_url, "/api/v1/search?value=101010:4000999")
    assert status == 200
    assert body == {"type": "jet-drop", "meta": {"jet_drop_id": "101010:4000999"}}


def test_search_object(base_url):
    """handlers_test.go:1298-1312 — object ref answers as lifeline;
    e2e C5160 (search_test.go:108-117)"""
    status, body = get(base_url, f"/api/v1/search?value={base58_encode(OBJ_REF)}")
    assert status == 200
    assert body == {
        "type": "lifeline",
        "meta": {"object_reference": base58_encode(OBJ_REF)},
    }


def test_search_record(base_url):
    """handlers_test.go:1314-1345 — record ref answers index + object;
    e2e C5158 (search_test.go:131-149)"""
    status, body = get(base_url, f"/api/v1/search?value={base58_encode(REC_REF)}")
    assert status == 200
    assert body == {
        "type": "record",
        "meta": {
            "index": f"{P0 + 20}:1",
            "object_reference": base58_encode(OBJ_REF),
        },
    }


def test_search_record_not_exist(base_url):
    """handlers_test.go:1347-1360; e2e C5164 (search_test.go:185 —
    nonexisting record_ref is an error). C5166's "nonexisting
    object_reference answers 200 lifeline" relies on Go reference
    strings carrying an object-vs-record marker; in this engine both
    are bare 32-byte base58 values, so an unknown ref of either kind
    lands here (documented adaptation)."""
    status, body = get(base_url, f"/api/v1/search?value={base58_encode(LOST_REF)}")
    assert status == 400
    assert body == bad_request(
        [("value", "record reference not found")], message_field="description"
    )


def test_search_no_value(base_url):
    """handlers_test.go:1362-1368"""
    status, _ = get(base_url, "/api/v1/search")
    assert status == 400


def test_search_invalid_value(base_url):
    """handlers_test.go:1370-1383"""
    status, body = get(base_url, "/api/v1/search?value=not_valid_value")
    assert status == 400
    assert body == bad_request(
        [("value", "is neither pulse number, jet drop id nor reference")],
        message_field="description",
    )


# ---------------------------------------------------------------------------
# Continuous serving metrics (round 4; reference parity:
# etl/storage/storage_metrics.go:1-125 — per-op Prometheus timers
# exported in normal operation, and load/run_configs scrape them)
# ---------------------------------------------------------------------------


def test_metrics_endpoints_observe_every_request(base_url):
    import urllib.request

    # traffic across two endpoints, including a 400 (validation
    # failures count as served requests, NOT handler errors)
    get(base_url, f"/api/v1/pulses/{P0}")
    get(base_url, f"/api/v1/pulses/{P0}")
    get(base_url, "/api/v1/search?value=not_valid_value")  # -> 400

    status, snap = get(base_url, "/metrics.json")
    assert status == 200
    eps = snap["endpoints"]
    assert eps["get_pulse"]["count"] >= 2
    assert eps["get_pulse"]["errors"] == 0
    assert eps["get_pulse"]["p50_ms"] > 0
    assert eps["get_pulse"]["max_ms"] >= eps["get_pulse"]["p50_ms"]
    assert eps["search"]["count"] >= 1
    assert eps["search"]["errors"] == 0  # 400 is not a server error
    # spark stage totals present (None allowed when the UI is off)
    assert "spark_stage_totals" in snap

    with urllib.request.urlopen(base_url + "/metrics", timeout=30) as resp:
        assert resp.status == 200
        text = resp.read().decode()
    assert "block_explorer_get_pulse_duration_seconds_count" in text
    assert 'block_explorer_get_pulse_duration_seconds{quantile="0.5"}' in text
    assert "block_explorer_search_errors_total 0" in text


# ---------------------------------------------------------------------------
# JetDropsByJetID e2e family (round 4): ported from
# test/api/jd_by_jetid_test.go — jet-across-pulses, parent-prefix,
# nonexistent, query params, negatives, star jet, prev/next chain.
# ---------------------------------------------------------------------------

JETID_P0 = 4_100_000  # separate pulse range from the main fixture
JET_A, JET_B = "0010", "110"  # prefix-unrelated, like the two
# GenerateRecordsFromOneJetSilence jets
PULSES_IN_JET = 5
REC_AMOUNT = 5


@pytest.fixture(scope="module")
def jetid_base_url(spark):
    """jd_by_jetid_test.go:31-78 seeding: two unrelated jets, each with
    a drop in PULSES_IN_JET consecutive pulses, REC_AMOUNT records."""
    rng = random.Random(29)
    pulses = gen.make_pulses(start=JETID_P0, count=PULSES_IN_JET)
    drops = [
        gen.make_jet_drop(rng, JETID_P0 + i * 10, jet, record_amount=REC_AMOUNT,
                          timestamp=1_600_000_000 + i)
        for i in range(PULSES_IN_JET)
        for jet in (JET_A, JET_B)
    ]
    api_impl = BlockExplorerApi(
        spark.createDataFrame(pulses, schemas.PULSES).cache(),
        spark.createDataFrame(drops, schemas.JET_DROPS).cache(),
        spark.createDataFrame([], schemas.RECORDS).cache(),
    )
    server = serve(api_impl, warm=False)
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def test_jetid_drops_across_pulses(jetid_base_url):
    """C5410 (jd_by_jetid_test.go:81-104): a jet with drops in N pulses
    returns one drop per pulse with per-drop record amount, formatted
    jet_drop_id, and non-empty hash/timestamp."""
    for jet in (JET_A, JET_B):
        status, body = get(jetid_base_url, f"/api/v1/jets/{jet}/jet-drops")
        assert status == 200
        assert body["total"] == PULSES_IN_JET
        assert len(body["result"]) == PULSES_IN_JET
        for jd in body["result"]:
            assert jd["jet_id"] == jet
            assert jd["jet_drop_id"] == f"{jet}:{jd['pulse_number']}"
            assert jd["record_amount"] == REC_AMOUNT
            assert jd["timestamp"]
            assert jd["hash"]


def test_jetid_children_by_parent_prefix(jetid_base_url):
    """C5421 (jd_by_jetid_test.go:105-123): querying a starting prefix
    of an existing JetID returns its descendants, all prefixed."""
    for value in (JET_A[: len(JET_A) - round(len(JET_A) / 2)],  # "00"
                  JET_B[: len(JET_B) - round(len(JET_B) / 2)]):  # "1"
        status, body = get(jetid_base_url, f"/api/v1/jets/{value}/jet-drops")
        assert status == 200
        assert body["total"] > 0
        assert body["result"]
        for jd in body["result"]:
            assert jd["jet_id"].startswith(value)


def test_jetid_nonexistent_is_empty(jetid_base_url):
    """C5422 (jd_by_jetid_test.go:118-143): a JetID that is neither a
    prefix nor an extension of any stored jet yields an empty page."""
    status, body = get(jetid_base_url, "/api/v1/jets/0111/jet-drops")
    assert status == 200
    assert body == {"total": 0, "result": []}


def test_jetid_limit(jetid_base_url):
    """C5423 (jd_by_jetid_test.go:194-202): limit bounds the page,
    total still counts everything."""
    status, body = get(
        jetid_base_url, f"/api/v1/jets/{JET_A}/jet-drops?limit={PULSES_IN_JET - 1}"
    )
    assert status == 200
    assert body["total"] == PULSES_IN_JET
    assert len(body["result"]) == PULSES_IN_JET - 1


def test_jetid_sort_asc_desc_pairs(jetid_base_url):
    """C5424/C5425 (jd_by_jetid_test.go:203-238): the two-column sort
    literals order the page by pulse in each direction."""
    status, body = get(
        jetid_base_url,
        f"/api/v1/jets/{JET_A}/jet-drops?sort_by=pulse_number_asc,jet_id_desc",
    )
    assert status == 200
    pns = [jd["pulse_number"] for jd in body["result"]]
    assert len(pns) == PULSES_IN_JET and pns == sorted(pns)

    status, body = get(
        jetid_base_url,
        f"/api/v1/jets/{JET_A}/jet-drops?sort_by=pulse_number_desc,jet_id_asc",
    )
    assert status == 200
    pns = [jd["pulse_number"] for jd in body["result"]]
    assert len(pns) == PULSES_IN_JET and pns == sorted(pns, reverse=True)


def test_jetid_pulse_bounds(jetid_base_url):
    """C5426 (gte) / C5428 (gt) / C5427 (lte) / C5429 (lt)
    (jd_by_jetid_test.go:239-285): the four pulse bounds, with
    first-row and ordering pins."""
    uniq = [JETID_P0 + i * 10 for i in range(PULSES_IN_JET)]
    q = f"/api/v1/jets/{JET_A}/jet-drops"

    status, body = get(
        jetid_base_url,
        f"{q}?pulse_number_gte={uniq[1]}&sort_by=pulse_number_asc,jet_id_desc",
    )
    assert body["total"] == PULSES_IN_JET - 1
    assert body["result"][0]["pulse_number"] == uniq[1]
    assert body["result"][0]["pulse_number"] < body["result"][1]["pulse_number"]

    status, body = get(
        jetid_base_url,
        f"{q}?pulse_number_gt={uniq[1]}&sort_by=pulse_number_asc,jet_id_desc",
    )
    assert body["total"] == PULSES_IN_JET - 2
    assert body["result"][0]["pulse_number"] == uniq[2]

    status, body = get(jetid_base_url, f"{q}?pulse_number_lte={uniq[2]}")
    assert body["total"] == 3  # default sort: pulse desc
    assert body["result"][0]["pulse_number"] == uniq[2]
    assert body["result"][0]["pulse_number"] > body["result"][1]["pulse_number"]

    status, body = get(jetid_base_url, f"{q}?pulse_number_lt={uniq[2]}")
    assert body["total"] == 2
    assert body["result"][0]["pulse_number"] == uniq[1]


@pytest.mark.parametrize(
    "value",
    [
        pytest.param(f"0010:{JETID_P0}", id="C5431-jetdropid"),
        # a realistic mixed-char base58 reference (an all-zero-bytes
        # ref would encode to all '1's, which IS a valid binary jet id)
        pytest.param(base58_encode(bytes(range(1, 33))), id="C5432-reference"),
        pytest.param("1234567890", id="C5433-decimal-number"),
        pytest.param("01" * 120, id="C5434-binary-overlong"),
    ],
)
def test_jetid_negative_values(jetid_base_url, value):
    """C5431-C5434 (jd_by_jetid_test.go:299-314): JetDropID, reference,
    decimal, and >216-digit binary values all fail jetID validation."""
    status, body = get(jetid_base_url, f"/api/v1/jets/{value}/jet-drops")
    assert status == 400
    assert body == bad_request(
        [("jet-id path parameter", "parameter does not match with jetID valid value")]
    )


def test_jetid_empty_value(jetid_base_url):
    """C5430 (jd_by_jetid_test.go:301): empty path value accumulates
    BOTH failures — empty + regexp mismatch (handlers.go:749-781 checks
    are sequential, not early-return)."""
    status, body = get(jetid_base_url, "/api/v1/jets//jet-drops")
    assert status == 400
    assert body == bad_request(
        [
            ("jet-id path parameter", "empty value of path parameter"),
            ("jet-id path parameter", "parameter does not match with jetID valid value"),
        ]
    )


def test_jetid_star_returns_all(spark):
    """C5457 (jd_by_jetid_test.go:317-365): JetID='*' (stored root '')
    matches every jet — star drops render jet_id '*' and '*:pn' ids,
    non-star drops appear alongside."""
    rng = random.Random(31)
    n_star = 5
    pulses = gen.make_pulses(start=JETID_P0, count=n_star + 1)
    drops = [
        gen.make_jet_drop(rng, JETID_P0 + i * 10, "", record_amount=2)
        for i in range(n_star)
    ] + [gen.make_jet_drop(rng, JETID_P0 + n_star * 10, "101", record_amount=1)]
    api_impl = BlockExplorerApi(
        spark.createDataFrame(pulses, schemas.PULSES).cache(),
        spark.createDataFrame(drops, schemas.JET_DROPS).cache(),
        spark.createDataFrame([], schemas.RECORDS).cache(),
    )
    server = serve(api_impl, warm=False)
    try:
        base = f"http://127.0.0.1:{server.server_address[1]}"
        status, body = get(base, "/api/v1/jets/*/jet-drops")
        assert status == 200
        assert body["total"] == n_star + 1
        assert len(body["result"]) == n_star + 1
        seen_pulses = set()
        for jd in body["result"]:
            if jd["jet_id"] == "*":
                assert jd["record_amount"] == 2
                assert jd["jet_drop_id"] == f"*:{jd['pulse_number']}"
                seen_pulses.add(jd["pulse_number"])
            else:
                assert jd["jet_id"] == "101"
        assert seen_pulses == {JETID_P0 + i * 10 for i in range(n_star)}
        # C5671 (jd_by_id_test.go): the star jet drop resolves by its
        # composite id "*:<pn>" on the point-lookup endpoint too
        status, body = get(base, f"/api/v1/jet-drops/*:{JETID_P0}")
        assert status == 200
        assert body["jet_drop_id"] == f"*:{JETID_P0}"
        assert body["jet_id"] == "*"
        assert body["record_amount"] == 2
    finally:
        server.shutdown()


def test_jetid_prev_next_chain_over_split_tree(spark):
    """C5672 (jd_by_jetid_test.go:367-470): over a full split tree the
    response carries prev/next JetDropIDs — root has no prev and two
    next, leaves have one prev and no next, middles have both; every
    prev is a jet-prefix parent at pulse-10, every next a child at
    pulse+10."""
    depth = 3
    start = JETID_P0
    pulses = gen.make_pulses(start=start, count=depth + 1)
    drops = gen.make_jet_split_tree(seed=37, root_jet="0", start_pulse=start, depth=depth)
    api_impl = BlockExplorerApi(
        spark.createDataFrame(pulses, schemas.PULSES).cache(),
        spark.createDataFrame(drops, schemas.JET_DROPS).cache(),
        spark.createDataFrame([], schemas.RECORDS).cache(),
    )
    server = serve(api_impl, warm=False)
    try:
        base = f"http://127.0.0.1:{server.server_address[1]}"
        # the reference queries the jets of the LOWEST pulse — here the
        # root — so the whole split tree arrives in one page and the
        # prev/next maps (built from page + adjacent-pulse drops,
        # handlers.go:207-241) see every parent-child hash link
        status, body = get(base, "/api/v1/jets/0/jet-drops")
        assert status == 200
        n_total = 2 ** (depth + 1) - 1
        assert body["total"] == n_total
        n_root = n_leaf = n_middle = 0
        max_pulse = start + 10 * depth
        for jd in body["result"]:
            if jd["pulse_number"] == start:
                assert jd["prev_jet_drop_id"] == []
                nxt = jd["next_jet_drop_id"]
                assert len(nxt) == 2
                for n in nxt:
                    assert n["jet_id"].startswith(jd["jet_id"])
                    assert n["pulse_number"] == jd["pulse_number"] + 10
                    assert n["jet_drop_id"] == f"{n['jet_id']}:{n['pulse_number']}"
                n_root += 1
            elif jd["pulse_number"] == max_pulse:
                prev = jd["prev_jet_drop_id"]
                assert len(prev) == 1
                assert jd["jet_id"].startswith(prev[0]["jet_id"])
                assert prev[0]["pulse_number"] == jd["pulse_number"] - 10
                assert jd["next_jet_drop_id"] == []
                n_leaf += 1
            else:
                assert len(jd["prev_jet_drop_id"]) == 1
                assert len(jd["next_jet_drop_id"]) == 2
                n_middle += 1
        # C5672's count pins: 1 root, 2^depth leaves, rest middles
        assert n_root == 1
        assert n_leaf == 2 ** depth
        assert n_middle == n_total - n_leaf - n_root
    finally:
        server.shutdown()


# ---------------------------------------------------------------------------
# Search e2e family (round 4): ported from test/api/search_test.go:28-182 —
# syntax-driven dispatch (nonexistent pulse/jet-drop still answer with
# meta, no storage lookup) and the negative catalogue.
# ---------------------------------------------------------------------------


def test_search_nonexistent_pulse_is_meta_only(base_url):
    """C5163 (search_test.go:72-83): a valid-but-never-stored pulse
    number answers 200 with the echoed meta — dispatch is syntactic."""
    wrong = P0 + 1000
    status, body = get(base_url, f"/api/v1/search?value={wrong}")
    assert status == 200
    assert body == {"type": "pulse", "meta": {"pulse_number": wrong}}


def test_search_nonexistent_jet_drop_is_meta_only(base_url):
    """C5165 (search_test.go:95-108): a well-formed jet drop id that
    was never stored still answers 200 with the echoed meta."""
    value = f"0110:{P0 + 20}"  # jet 0110 never seeded
    status, body = get(base_url, f"/api/v1/search?value={value}")
    assert status == 200
    assert body == {"type": "jet-drop", "meta": {"jet_drop_id": value}}


def test_search_zero_value(base_url):
    """C5286 (search_test.go:165): '0' parses as int but fails pulse
    validation — its failure reason differs from the generic one."""
    status, body = get(base_url, "/api/v1/search?value=0")
    assert status == 400
    assert body == bad_request(
        [("value", "not valid pulse number")], message_field="description"
    )


@pytest.mark.parametrize(
    "value",
    [
        # 45 binary digits: ParseInt overflows int64 in the reference,
        # so this is NOT 'not valid pulse number' but the generic miss
        pytest.param("010101010101010101010101010101010101010101010", id="C5161-bare-jetid"),
        pytest.param("0qwerty123:!@:%23$%25^", id="C5162-invalid-chars"),
        pytest.param("0101" * 60 + f":{4_000_000}", id="C5168-overlong-jet-prefix"),
        pytest.param(f"0101:{2**63}1", id="C5289-pulse-overflows-int64"),
        pytest.param("123456:789012", id="C5290-decimal-jet"),
    ],
)
def test_search_negative_values(base_url, value):
    """C5161/C5162/C5168/C5289/C5290 (search_test.go:152-176): every
    malformed shape lands on the generic dispatch failure."""
    status, body = get(base_url, f"/api/v1/search?value={value}")
    assert status == 400
    assert body == bad_request(
        [("value", "is neither pulse number, jet drop id nor reference")],
        message_field="description",
    )


# ---------------------------------------------------------------------------
# JetDropsByPulse param family (round 4): test/api/jd_by_pulse_test.go
# ---------------------------------------------------------------------------


def test_jd_by_pulse_empty_pulse(base_url):
    """C5227: a stored pulse with no drops answers 200/empty."""
    status, body = get(base_url, f"/api/v1/pulses/{P0 + 10}/jet-drops")
    assert status == 200
    assert body == {"total": 0, "result": []}


def test_jd_by_pulse_from_jet_drop_id_with_offset(base_url):
    """C5232 (jd_by_pulse_test.go:196-206): jet_id >= from seek
    (storage.go:481-483, inclusive) composed with offset."""
    status, body = get(
        base_url,
        f"/api/v1/pulses/{P0 + 20}/jet-drops"
        f"?from_jet_drop_id=001:{P0 + 20}&offset=1",
    )
    assert status == 200
    assert body["total"] == 2  # 001, 010
    assert [d["jet_drop_id"] for d in body["result"]] == [f"010:{P0 + 20}"]


def test_jd_by_pulse_invalid_from_jet_drop_id(base_url):
    """C5233/C5234/C5235 (jd_by_pulse_test.go:207-235): invalid, empty
    and kilobyte-length from_jet_drop_id values are 400s (pulse
    MaxInt64 is itself invalid — both failures accumulate)."""
    from urllib.parse import quote

    for bad in ("%^&Qwerty!@#$%123", "", "9" * 1000):
        status, body = get(
            base_url,
            f"/api/v1/pulses/{2**63 - 1}/jet-drops?from_jet_drop_id={quote(bad)}",
        )
        assert status == 400
        props = [f["property"] for f in body["validation_failures"]]
        assert "pulse" in props and "jet drop id" in props


def test_pulses_from_between_and_timestamp_bounds(base_url):
    """C5215/C5216/C5217 (pulses_test.go:157-220): from_pulse_number
    between two stored pulses acts as the <= bound; timestamp_gte/lte
    filter the chain (fixture stamps P0+i*10 at 1_600_000_000+i*10)."""
    status, body = get(
        base_url, f"/api/v1/pulses?from_pulse_number={P0 + 15}"
    )
    assert status == 200
    assert [p["pulse_number"] for p in body["result"]] == [P0 + 10, P0]

    status, body = get(
        base_url, "/api/v1/pulses?timestamp_gte=1600000020&timestamp_lte=1600000030"
    )
    assert status == 200
    assert [p["pulse_number"] for p in body["result"]] == [P0 + 30, P0 + 20]


# ---------------------------------------------------------------------------
# JetDropRecords e2e additions (round 4): test/api/jd_records_test.go
# ---------------------------------------------------------------------------


def test_jd_records_nonexistent_drop_is_empty(base_url):
    """C5324: a well-formed, never-stored jet drop id answers 200 with
    an empty page — not an error."""
    status, body = get(base_url, f"/api/v1/jet-drops/0110:{P0 + 20}/records")
    assert status == 200
    assert body == {"total": 0, "result": []}


def test_jd_records_star_no_genesis(base_url):
    """C5325: '*:pulse' addresses the root jet; with no genesis (root-
    jet) records stored the page is empty, not an error."""
    status, body = get(base_url, f"/api/v1/jet-drops/*:{P0 + 20}/records")
    assert status == 200
    assert body == {"total": 0, "result": []}


def test_jd_records_star_returns_genesis(spark):
    """C5331: records stored under the root jet ('' in storage, '*' on
    the wire) are served by the '*:pulse' composite id."""
    rng = random.Random(41)
    pulses = gen.make_pulses(start=JETID_P0, count=1)
    drops = [gen.make_jet_drop(rng, JETID_P0, "", record_amount=2)]
    records = [
        gen.make_record(rng, JETID_P0, "", order=i, rec_type="state") for i in range(2)
    ]
    api_impl = BlockExplorerApi(
        spark.createDataFrame(pulses, schemas.PULSES).cache(),
        spark.createDataFrame(drops, schemas.JET_DROPS).cache(),
        spark.createDataFrame(records, schemas.RECORDS).cache(),
    )
    server = serve(api_impl, warm=False)
    try:
        base = f"http://127.0.0.1:{server.server_address[1]}"
        status, body = get(base, f"/api/v1/jet-drops/*:{JETID_P0}/records")
        assert status == 200
        assert body["total"] == 2
        for r in body["result"]:
            assert r["jet_id"] == "*"
            assert r["jet_drop_id"] == f"*:{JETID_P0}"
    finally:
        server.shutdown()


# ---------------------------------------------------------------------------
# Pulses param/validation family (round 4): ported from
# test/api/pulses_test.go — limit/offset boundary validation,
# from_pulse_number seeks, out-of-range offsets. The module fixture
# seeds 5 pulses P0..P0+40 (the reference seeds 100; assertions are
# adapted to the 5-pulse chain, semantics identical).
# ---------------------------------------------------------------------------


def test_pulses_limit_min(base_url):
    """C5170 (pulses_test.go:87-96): limit = 1 is valid and returns
    the single newest pulse."""
    status, body = get(base_url, "/api/v1/pulses?limit=1")
    assert status == 200
    assert body["total"] == 5
    assert [p["pulse_number"] for p in body["result"]] == [P0 + 40]


def test_pulses_limit_max(base_url):
    """C5174 (pulses_test.go:97-106): limit = 1000 is valid and
    returns everything."""
    status, body = get(base_url, "/api/v1/pulses?limit=1000")
    assert status == 200
    assert body["total"] == 5
    assert len(body["result"]) == 5
    assert body["result"][0]["pulse_number"] == P0 + 40


@pytest.mark.parametrize(
    "limit", [0, 1001, -1],
    ids=["C5172_zero", "C5173_too_big", "C5210_negative"],
)
def test_pulses_limit_boundaries_rejected(base_url, limit):
    """C5172/C5173/C5210 (pulses_test.go:107-131): limit outside
    [1, 1000] is a validation error."""
    status, body = get(base_url, f"/api/v1/pulses?limit={limit}&offset=10")
    assert status == 400
    assert body == bad_request([("limit", "should be in range [1, 1000]")])


def test_pulses_offset_min(base_url):
    """C5175 (pulses_test.go:132-141): offset = 1 skips exactly the
    newest pulse."""
    status, body = get(base_url, "/api/v1/pulses?limit=10&offset=1")
    assert status == 200
    assert body["total"] == 5
    assert body["result"][0]["pulse_number"] == P0 + 30
    assert len(body["result"]) == 4


def test_pulses_offset_zero(base_url):
    """C5212 (pulses_test.go:142-149): offset = 0 is the unshifted
    page."""
    status, body = get(base_url, "/api/v1/pulses?limit=10&offset=0")
    assert status == 200
    assert body["result"][0]["pulse_number"] == P0 + 40


def test_pulses_offset_negative(base_url):
    """C5177 (pulses_test.go:150-155): offset = -1 is a validation
    error."""
    status, body = get(base_url, "/api/v1/pulses?limit=10&offset=-1")
    assert status == 400
    assert body == bad_request([("offset", "should not be negative")])


def test_pulses_offset_out_of_range(base_url):
    """C5178 (pulses_test.go:78-86): offset beyond the pulse count
    keeps the full total but returns an empty page."""
    status, body = get(base_url, "/api/v1/pulses?limit=10&offset=6")
    assert status == 200
    assert body["total"] == 5
    assert body["result"] == []


def test_pulses_limit_and_offset_tail(base_url):
    """C5209 (pulses_test.go:67-77): limit 3 offset 3 lands on the
    chain tail (2 rows remain of 5; the reference's 100-pulse seed
    yields a full 3 — same arithmetic)."""
    status, body = get(base_url, "/api/v1/pulses?limit=3&offset=3")
    assert status == 200
    assert body["total"] == 5
    assert [p["pulse_number"] for p in body["result"]] == [P0 + 10, P0]


def test_pulses_from_pulse_number_reduces_total(base_url):
    """C5213 (pulses_test.go:166-176): from_pulse_number is a <= seek
    that also shrinks the reported total."""
    status, body = get(base_url, f"/api/v1/pulses?limit=20&from_pulse_number={P0 + 30}")
    assert status == 200
    assert body["total"] == 4
    assert body["result"][0]["pulse_number"] == P0 + 30
    assert len(body["result"]) == 4


def test_pulses_from_pulse_number_below_min(base_url):
    """C5214 (pulses_test.go:177-184): a from_pulse_number older than
    every stored pulse yields an empty page."""
    status, body = get(base_url, f"/api/v1/pulses?limit=20&from_pulse_number={P0 - 100}")
    assert status == 200
    assert body["result"] == []


# ---------------------------------------------------------------------------
# Pulse-by-number family (round 4): ported from test/api/pulse_test.go.
# ---------------------------------------------------------------------------


def test_pulse_chain_fields_every_pulse(base_url):
    """C5218 (pulse_test.go:41-60): every stored pulse answers with its
    own number, prev/next links at +-10 (edges omitted), its seeded
    jet-drop/record counters, a timestamp, and no error fields."""
    chain = [P0 + i * 10 for i in range(5)]
    for i, pn in enumerate(chain):
        status, body = get(base_url, f"/api/v1/pulses/{pn}")
        assert status == 200
        assert body["pulse_number"] == pn
        if i == 0:
            assert "prev_pulse_number" not in body  # first in db has no prev
        else:
            assert body["prev_pulse_number"] == pn - 10
        if i == len(chain) - 1:
            assert "next_pulse_number" not in body  # last in db has no next
        else:
            assert body["next_pulse_number"] == pn + 10
        assert body["jet_drop_amount"] == 0  # fixture seeds zero counters
        assert body["record_amount"] == 0
        assert body["timestamp"]
        assert "message" not in body
        assert "validation_failures" not in body


def test_pulse_nonexistent_beyond_chain(base_url):
    """C5219 (pulse_test.go:61-64): a pulse 1000 past the stored chain
    is 404."""
    status, _ = get(base_url, f"/api/v1/pulses/{P0 + 40 + 1000}")
    assert status == 404


def test_pulse_zero_value(base_url):
    """C5221 (pulse_test.go:65-68): pulse 0 is simply not found."""
    status, _ = get(base_url, "/api/v1/pulses/0")
    assert status == 404


# ---------------------------------------------------------------------------
# JetDropByID family (round 4): ported from test/api/jd_by_id_test.go —
# happy path over every seeded drop plus the 9-case negative table.
# ---------------------------------------------------------------------------


def test_jd_by_id_every_seeded_drop(base_url):
    """C5240 (jd_by_id_test.go:54-67): each stored drop resolves by its
    composite id with matching jet/pulse split and non-empty
    hash/timestamp."""
    seeded = [
        ("000", P0 + 20),
        ("001", P0 + 20),
        ("010", P0 + 20),
        ("00", P0 + 30),
    ]
    for jet_id, pn in seeded:
        status, body = get(base_url, f"/api/v1/jet-drops/{jet_id}:{pn}")
        assert status == 200
        assert body["jet_drop_id"] == f"{jet_id}:{pn}"
        assert body["jet_id"] == jet_id
        assert body["pulse_number"] == pn
        assert body["hash"]
        assert body["timestamp"]
        assert "message" not in body
        assert "validation_failures" not in body


@pytest.mark.parametrize(
    ("value", "status_exp"),
    [
        pytest.param(f"111:{P0 + 20}", 404, id="C5242_nonexistent_jet"),
        pytest.param("11110000", 400, id="C5243_jet_id_alone"),
        pytest.param(f"000:{P0 + 5}", 404, id="C5244_wrong_pulse"),
        pytest.param("0qwerty123:!@#$%^", 400, id="C5245_invalid_values"),
        pytest.param("01" * 130 + f":{P0 + 20}", 400, id="C5246_prefix_over_216"),
        pytest.param("000:92233720368547758071", 400, id="C5247_pulse_over_int64"),
        pytest.param("0:0", 404, id="C5248_zero_zero"),
        pytest.param("*", 400, id="C5249_bare_star"),
        pytest.param("12345:67890", 400, id="C5251_random_numbers"),
    ],
)
def test_jd_by_id_negative_table(base_url, value, status_exp):
    """C5242-C5251 (jd_by_id_test.go:105-115): malformed composite ids
    are 400; well-formed ids that match nothing are 404."""
    from urllib.parse import quote

    status, body = get(base_url, f"/api/v1/jet-drops/{quote(value, safe='')}")
    assert status == status_exp
    if status_exp == 400:
        assert body["code"] == "400"  # strconv.Itoa quirk on this endpoint
        assert body["validation_failures"][0]["property"] == "jet drop id"


# ---------------------------------------------------------------------------
# JetDropRecords family (round 4): ported from test/api/jd_records_test.go
# — per-drop totals, limit/offset, per-type pages, full-field render,
# and the 9-case negative table.
# ---------------------------------------------------------------------------


def test_jd_records_totals_per_drop(base_url):
    """C5323 (jd_records_test.go:77-93): each drop serves exactly its
    own records (000:P0+20 holds 3 state + 1 request; 001:P0+20 holds
    1 result) with clean error fields."""
    status, body = get(base_url, f"/api/v1/jet-drops/000:{P0 + 20}/records")
    assert status == 200
    assert body["total"] == 4
    assert len(body["result"]) == 4
    types = sorted(r["type"] for r in body["result"])
    assert types == ["request", "state", "state", "state"]
    assert "message" not in body
    assert "validation_failures" not in body

    status, body = get(base_url, f"/api/v1/jet-drops/001:{P0 + 20}/records")
    assert status == 200
    assert body["total"] == 1
    assert body["result"][0]["type"] == "result"


def test_jd_records_limit_offset(base_url):
    """C5326 (jd_records_test.go:137-147): offset skips in index order
    while total stays the full per-drop count."""
    status, body = get(
        base_url, f"/api/v1/jet-drops/000:{P0 + 20}/records?limit=2&offset=1"
    )
    assert status == 200
    assert body["total"] == 4
    assert len(body["result"]) == 2
    assert body["result"][0]["index"] == f"{P0 + 20}:1"


@pytest.mark.parametrize(
    ("rec_type", "drop_jet", "exp_total", "exp_index"),
    [
        pytest.param("state", "000", 3, f"4000020:0", id="C5328_state"),
        pytest.param("request", "000", 1, f"4000020:3", id="C5329_request"),
        pytest.param("result", "001", 1, f"4000020:0", id="C5330_result"),
    ],
)
def test_jd_records_by_type(base_url, rec_type, drop_jet, exp_total, exp_index):
    """C5328/C5329/C5330 (jd_records_test.go:194-229): the type param
    narrows the page to exactly that record kind."""
    status, body = get(
        base_url, f"/api/v1/jet-drops/{drop_jet}:{P0 + 20}/records?type={rec_type}"
    )
    assert status == 200
    assert body["total"] == exp_total
    assert all(r["type"] == rec_type for r in body["result"])
    assert body["result"][0]["index"] == exp_index


def test_jd_records_all_fields(base_url):
    """C5332 (jd_records_test.go:267-338): every rendered record carries
    reference, object_reference, type, pulse_number, jet_id,
    jet_drop_id, pulse:order index, hash and timestamp."""
    status, body = get(base_url, f"/api/v1/jet-drops/000:{P0 + 20}/records")
    assert status == 200
    indices = set()
    for r in body["result"]:
        assert r["reference"]
        assert r["object_reference"]
        assert r["type"] in ("state", "request", "result")
        assert r["pulse_number"] == P0 + 20
        assert r["jet_id"] == "000"
        assert r["jet_drop_id"] == f"000:{P0 + 20}"
        pn, order = r["index"].split(":")
        assert int(pn) == P0 + 20
        indices.add(int(order))
        assert r["hash"]
        assert r["timestamp"]
    assert indices == {0, 1, 2, 3}


@pytest.mark.parametrize(
    "value",
    [
        pytest.param("0", id="C5333_zero"),
        pytest.param("", id="C5334_empty"),
        pytest.param(VALID_REF, id="C5335_object_ref"),
        pytest.param("11110000", id="C5336_jet_id_alone"),
        pytest.param("0qwerty123:!@:#$%^", id="C5337_invalid_value"),
        pytest.param("01" * 300 + ":4000020", id="C5338_big_length_prefix"),
        pytest.param("000:92233720368547758071", id="C5339_big_length_pulse"),
        pytest.param("12345:67890", id="C5340_random_numbers"),
        pytest.param(base58_encode(bytes(range(96, 128))), id="C5341_record_ref"),
    ],
)
def test_jd_records_negative_table(base_url, value):
    """C5333-C5341 (jd_records_test.go:357-367): every malformed
    jet_drop_id form is a 400 validation error."""
    from urllib.parse import quote

    status, body = get(base_url, f"/api/v1/jet-drops/{quote(value, safe='')}/records")
    assert status == 400
    assert body == bad_request([("jet_drop_id", "invalid")])


# ---------------------------------------------------------------------------
# JetDropsByPulse family (round 4): ported from
# test/api/jd_by_pulse_test.go — per-pulse happy path, nonexistent /
# invalid pulses, and the paging cases over a 25-drop pulse.
# ---------------------------------------------------------------------------


def test_jd_by_pulse_complete_contents(base_url):
    """C5223 (jd_by_pulse_test.go:54-79): the page covers every jet
    of the pulse, each rendered with jet_drop_id == jet_id:pulse and
    non-empty hash/timestamp."""
    status, body = get(base_url, f"/api/v1/pulses/{P0 + 20}/jet-drops")
    assert status == 200
    assert body["total"] == 3
    seen = set()
    for jd in body["result"]:
        assert jd["pulse_number"] == P0 + 20
        assert jd["jet_drop_id"] == f"{jd['jet_id']}:{jd['pulse_number']}"
        assert jd["hash"]
        assert jd["timestamp"]
        seen.add(jd["jet_id"])
    assert seen == {"000", "001", "010"}


def test_jd_by_pulse_nonexistent_pulse(base_url):
    """C5225 (jd_by_pulse_test.go:80-85): a valid-but-unknown pulse is
    an empty 200 page, not an error."""
    status, body = get(base_url, f"/api/v1/pulses/{P0 + 10000}/jet-drops")
    assert status == 200
    assert body == {"total": 0, "result": []}


@pytest.mark.parametrize(
    "pulse", [9223372036854775807],
    ids=["C5224_C5226_max_int64"],
)
def test_jd_by_pulse_invalid_pulse_number(base_url, pulse):
    """C5224/C5226 (jd_by_pulse_test.go:86-94): a pulse outside the
    platform range fails validation with this endpoint's '400' code."""
    status, body = get(base_url, f"/api/v1/pulses/{pulse}/jet-drops")
    assert status == 400
    assert body == bad_request([("pulse", "invalid")], code="400")


MANY_P0 = 4_200_000  # dedicated pulse range: 25 drops in one pulse
MANY_DROPS = 25


@pytest.fixture(scope="module")
def many_base_url(spark):
    """jd_by_pulse_test.go:133-155 seeding, scaled 101 -> 25 drops:
    one pulse with MANY_DROPS jets (5-bit ids, lexicographic = numeric
    order) plus a second pulse holding one 10-record drop (C5236)."""
    rng = random.Random(43)
    pulses = gen.make_pulses(start=MANY_P0, count=2)
    drops = [
        gen.make_jet_drop(rng, MANY_P0, format(i, "05b"), record_amount=1,
                          timestamp=1_600_100_000)
        for i in range(MANY_DROPS)
    ]
    drops.append(
        gen.make_jet_drop(rng, MANY_P0 + 10, "00000", record_amount=10,
                          timestamp=1_600_100_010)
    )
    api_impl = BlockExplorerApi(
        spark.createDataFrame(pulses, schemas.PULSES).cache(),
        spark.createDataFrame(drops, schemas.JET_DROPS).cache(),
        spark.createDataFrame([], schemas.RECORDS).cache(),
    )
    server = serve(api_impl, warm=False)
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def test_jd_by_pulse_default_limit(many_base_url):
    """C5228 (jd_by_pulse_test.go:157-162): no params -> 20-row page,
    full total."""
    status, body = get(many_base_url, f"/api/v1/pulses/{MANY_P0}/jet-drops")
    assert status == 200
    assert len(body["result"]) == 20
    assert body["total"] == MANY_DROPS


def test_jd_by_pulse_all_params(many_base_url):
    """C5229 (jd_by_pulse_test.go:163-174): from_jet_drop_id seeks to
    the 2nd drop (total shrinks by 1), offset 10 + limit 10 then page
    within the seek."""
    from_id = f"{format(1, '05b')}:{MANY_P0}"
    status, body = get(
        many_base_url,
        f"/api/v1/pulses/{MANY_P0}/jet-drops"
        f"?limit=10&offset=10&from_jet_drop_id={from_id}",
    )
    assert status == 200
    assert body["total"] == MANY_DROPS - 1
    assert len(body["result"]) == 10
    # jets sort ascending; seek starts at index 1, offset 10 more
    assert body["result"][0]["jet_id"] == format(11, "05b")


def test_jd_by_pulse_offset_one(many_base_url):
    """C5230 (jd_by_pulse_test.go:175-185): offset 1 shifts the page
    by exactly one drop in jet order."""
    status, body = get(
        many_base_url, f"/api/v1/pulses/{MANY_P0}/jet-drops?offset=1"
    )
    assert status == 200
    assert len(body["result"]) == 20
    assert body["total"] == MANY_DROPS
    assert body["result"][0]["jet_id"] == format(1, "05b")


def test_jd_by_pulse_offset_out_of_range(many_base_url):
    """C5231 (jd_by_pulse_test.go:186-194): offset past the drop count
    is an empty page."""
    status, body = get(
        many_base_url, f"/api/v1/pulses/{MANY_P0}/jet-drops?offset={MANY_DROPS}"
    )
    assert status == 200
    assert body["result"] == []


def test_jd_by_pulse_record_amount(many_base_url):
    """C5236 (jd_by_pulse_test.go:112-131): a drop aggregating several
    records reports that count in record_amount."""
    status, body = get(many_base_url, f"/api/v1/pulses/{MANY_P0 + 10}/jet-drops")
    assert status == 200
    assert body["total"] == 1
    assert body["result"][0]["record_amount"] == 10


# ---------------------------------------------------------------------------
# Search negative additions (round 4): remaining cases from
# test/api/search_test.go's table.
# ---------------------------------------------------------------------------


def test_search_empty_value_param(base_url):
    """C5287 (search_test.go:183): '?value=' (present but blank) is a
    400, same as a missing param."""
    status, _ = get(base_url, "/api/v1/search?value=")
    assert status == 400


def test_search_bare_object_id(base_url):
    """C5288 (search_test.go:184): the reference rejects a bare
    ObjectID string (not a full reference). Here the analogous miss is
    a well-formed 32-byte ref unknown to storage — still a 400."""
    status, body = get(
        base_url, f"/api/v1/search?value={base58_encode(bytes(range(128, 160)))}"
    )
    assert status == 400
    assert body == bad_request(
        [("value", "record reference not found")], message_field="description"
    )


@pytest.mark.skip(
    reason="C5222 (pulse_test.go:69-85, empty-pulse read) is skipped in "
    "the reference itself ('waiting for PENV-347'); no observable "
    "contract to port until the reference defines one."
)
def test_pulse_empty_pulse_reference_skip():
    pass


def test_serve_warmup_runs_every_endpoint_and_skips_metrics(spark):
    """Round-6 item 5: warmup() dry-runs all 8 endpoints (so serving
    never pays first-request plan construction), and those calls never
    reach the /metrics timers — they observe only real HTTP traffic."""
    rng = random.Random(21)
    pulses = gen.make_pulses(start=P0, count=3)
    drops = [gen.make_jet_drop(rng, P0, "00", timestamp=1_600_000_000)]
    records = [
        gen.make_record(
            rng, P0, "00", order=0, rec_type="state",
            object_reference=OBJ_REF, timestamp=1_600_000_000,
        )
    ]
    api_impl = BlockExplorerApi(
        spark.createDataFrame(pulses, schemas.PULSES),
        spark.createDataFrame(drops, schemas.JET_DROPS),
        spark.createDataFrame(records, schemas.RECORDS),
    )
    assert api_impl.warmup() == 8
    # warmup went straight to the API: no endpoint timer observed it
    assert all(
        st["count"] == 0 for st in api_impl.metrics.snapshot().values()
    )
    # an empty store must warm without raising either
    empty_api = BlockExplorerApi(
        spark.createDataFrame([], schemas.PULSES),
        spark.createDataFrame([], schemas.JET_DROPS),
        spark.createDataFrame([], schemas.RECORDS),
    )
    assert empty_api.warmup() == 8  # miss/4xx paths still execute plans


# ---------------------------------------------------------------------------
# Warehouse mode (round 8): lifeline served through the object-index
# store instead of the cached DataFrame — bytes must be IDENTICAL
# ---------------------------------------------------------------------------


def test_lifeline_warehouse_mode_identical(spark, base_url, tmp_path_factory):
    from block_explorer_spark.rest import serve as _serve
    from block_explorer_spark.sources import parquet as pq

    rng = random.Random(13)
    pulses = gen.make_pulses(start=P0, count=5)
    # consume the SAME rng draws as the module fixture (it generates
    # the jet drops first), so the record bytes are identical
    _ = [
        gen.make_jet_drop(rng, P0 + 20, jet, timestamp=1_600_000_020)
        for jet in ("000", "001", "010")
    ] + [gen.make_jet_drop(rng, P0 + 30, "00", timestamp=1_600_000_030)]
    records = []
    for order in range(3):
        records.append(gen.make_record(
            rng, P0 + 20, "000", order=order, rec_type="state",
            object_reference=OBJ_REF, timestamp=1_600_000_020,
        ))
    records[1]["reference"] = REC_REF
    records.append(gen.make_record(rng, P0 + 20, "000", order=3,
                                   rec_type="request"))
    records.append(gen.make_record(rng, P0 + 20, "001", order=0,
                                   rec_type="result"))
    # NOTE: same rng seed/sequence as the module fixture, so the rows
    # (references, payload bytes) are byte-identical to the cached set

    wh = str(tmp_path_factory.mktemp("wh") / "store")
    pq.upsert(spark, wh, "records",
              spark.createDataFrame(records, schemas.RECORDS))
    api_wh = BlockExplorerApi(
        spark.createDataFrame(pulses, schemas.PULSES).cache(),
        spark.createDataFrame([], schemas.JET_DROPS),
        spark.createDataFrame(records, schemas.RECORDS).cache(),
        warehouse_base=wh,
        spark=spark,
    )
    server = _serve(api_wh, warm=False)
    wh_url = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        ref = base58_encode(OBJ_REF)
        for q in (
            f"/api/v1/lifeline/{ref}/records?limit=20",
            f"/api/v1/lifeline/{ref}/records?sort_by=index_asc",
            f"/api/v1/lifeline/{ref}/records?pulse_number_gt={P0 + 10}"
            f"&pulse_number_lt={P0 + 30}",
            f"/api/v1/lifeline/{ref}/records?from_index={P0 + 20}%3A1",
            f"/api/v1/lifeline/{base58_encode(LOST_REF)}/records",
        ):
            want = get(base_url, q)
            got = get(wh_url, q)
            assert got == want, q
    finally:
        server.shutdown()


# ---------------------------------------------------------------------------
# Search extension endpoints (engine surface, not reference goldens)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def search_url(spark, tmp_path_factory):
    from block_explorer_spark.operators import retrieval as R

    docs = spark.createDataFrame(
        [
            (1, "spark joins data with spark joins"),
            (2, "data data batch batch batch"),
            (3, "spark only joins"),
            (4, "needle in the hay batch batch"),
        ],
        "doc_id long, text string",
    ).cache()
    idx = str(tmp_path_factory.mktemp("srch") / "idx")
    R.write_postings_index(docs, idx, num_files=2, positions=True)
    empty_p = spark.createDataFrame([], schemas.PULSES).cache()
    empty_d = spark.createDataFrame([], schemas.JET_DROPS).cache()
    empty_r = spark.createDataFrame([], schemas.RECORDS).cache()
    api_impl = BlockExplorerApi(empty_p, empty_d, empty_r)
    api_impl.attach_search(docs, idx)
    server = serve(api_impl, warm=False)
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def test_search_documents_ranked(search_url):
    status, body = get(search_url, "/api/v1/search/documents?query=spark+data&limit=3")
    assert status == 200
    assert body["total"] == 3
    ids = [r["doc_id"] for r in body["result"]]
    assert ids[0] == 1  # two sparks + a data outrank the rest
    scores = [r["score"] for r in body["result"]]
    assert scores == sorted(scores, reverse=True)


def test_search_documents_validation(search_url):
    status, body = get(search_url, "/api/v1/search/documents?query=")
    assert status == 400 and body["validation_failures"][0]["property"] == "query"
    status, body = get(search_url, "/api/v1/search/documents?query=x&limit=0")
    assert status == 400 and body["validation_failures"][0]["property"] == "limit"


def test_search_phrase_and_context(search_url):
    status, body = get(search_url, "/api/v1/search/phrase?phrase=batch+batch")
    assert status == 200
    assert {(r["doc_id"], r["n_occurrences"]) for r in body["result"]} == {
        (2, 2), (4, 1)
    }
    status, body = get(search_url, "/api/v1/search/phrase?phrase=solo")
    assert status == 400
    status, body = get(search_url, "/api/v1/search/context?term=needle&limit=5")
    assert status == 200
    assert body["result"] == [
        {"doc_id": 4, "pos": 0, "snippet": "needle in the hay"}
    ]


def test_search_routes_404_when_unconfigured(base_url):
    status, _ = get(base_url, "/api/v1/search/documents?query=x")
    assert status == 404
