"""End-to-end system test: raw platform records → streaming ingest →
control plane → query surface → API rendering.

Mirrors the reference's heavy-mock system tests
(test/api/object_lifeline_test.go:19-296, test/integration/
db_integration_test.go:27-388): generated records flow through the
whole pipeline and the assertions run at the query/API layer —
lifelines across pulse boundaries, keyset cursors both directions,
completeness/sequentiality flag progression, broken-chain exclusion.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from block_explorer_spark import api, schemas
from block_explorer_spark.plans import queries as Q
from block_explorer_spark.sources import parquet as pq
from block_explorer_spark.streaming import pipeline as P

PN1, PN2 = 4_000_010, 4_000_020
OBJ = b"\x11" * 8


def _raw_rows() -> list[dict]:
    """Two pulses; one object's chain spans both (activate + amends in
    p1 continue as amends in p2); jet '0'/'1' split so the root trie is
    covered; plus a request record and an unchained foreign state."""
    rows = []
    prev = None
    # pulse 1, jet "0": request + activate + 2 amends for OBJ
    rows.append(_rec(b"\x01", "incoming_request", PN1, "0", 0, obj=OBJ))
    for i, ref in enumerate([b"\x02", b"\x03", b"\x04"]):
        rows.append(
            _rec(ref, "activate" if i == 0 else "amend", PN1, "0", i + 1, obj=OBJ, prev=prev)
        )
        prev = ref
    # pulse 1, jet "1": an unrelated object's single state
    rows.append(_rec(b"\x0a", "activate", PN1, "1", 0, obj=b"\x22" * 8))
    # pulse 2, jet "0": chain continues across the pulse boundary
    for i, ref in enumerate([b"\x05", b"\x06"]):
        rows.append(_rec(ref, "amend", PN2, "0", i, obj=OBJ, prev=prev))
        prev = ref
    # pulse 2, jet "1": cover the trie
    rows.append(_rec(b"\x0b", "amend", PN2, "1", 0, obj=b"\x22" * 8, prev=b"\x0a"))
    return rows


def _rec(ref, kind, pn, jet, pos, obj, prev=None):
    return {
        "reference": ref,
        "kind": kind,
        "object_reference": obj,
        "prototype_reference": b"proto-x",
        "payload": b"payload",
        "prev_record_reference": prev,
        "hash": ref,
        "raw_data": b"raw",
        "jet_id": jet,
        "pulse_number": pn,
        "timestamp": 1_600_000_000 + pn,
        "position": pos,
    }


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("e2e") / "tables")
    raw = spark.createDataFrame(_raw_rows(), schemas.RAW_RECORDS)
    P.ingest_batch(spark, base, raw)
    stats = P.run_control_pass(spark, base)
    return base, stats


def test_control_plane_flags(spark, ingested):
    base, stats = ingested
    pulses = {r.pulse_number: r for r in pq.read_table(spark, base, "pulses").collect()}
    # both pulses' jet sets {0,1} cover the trie -> complete
    assert pulses[PN1].is_complete and pulses[PN2].is_complete
    # counters derived from jet_drops
    assert pulses[PN1].jet_drop_amount == 2
    assert pulses[PN1].record_amount == 5
    assert pulses[PN2].record_amount == 3


def test_lifeline_across_pulses(spark, ingested):
    base, _ = ingested
    records = pq.read_table(spark, base, "records")
    page, total = Q.get_lifeline(records, OBJ, limit=100)
    rows = page.collect()
    # 5 state records (request excluded), newest first
    assert total == 5
    assert [r.reference for r in rows] == [b"\x06", b"\x05", b"\x04", b"\x03", b"\x02"]
    assert all(r.type == "state" for r in rows)
    # chain order within each pulse follows prev-links, not insert order
    orders = [(r.pulse_number, r.order) for r in rows]
    assert orders == sorted(orders, reverse=True)


def test_lifeline_cursor_both_directions(spark, ingested):
    base, _ = ingested
    records = pq.read_table(spark, base, "records")
    asc_page, _ = Q.get_lifeline(records, OBJ, cursor=(PN2, 0), ascending=True, limit=100)
    assert [r.reference for r in asc_page.collect()] == [b"\x05", b"\x06"]
    # orders in pulse 1 jet "0": request=1, states 02/03/04 = 2/3/4
    desc_page, _ = Q.get_lifeline(records, OBJ, cursor=(PN1, 3), ascending=False, limit=100)
    assert [r.reference for r in desc_page.collect()] == [b"\x03", b"\x02"]


def test_records_by_jet_drop_type_filter(spark, ingested):
    base, _ = ingested
    records = pq.read_table(spark, base, "records")
    page, total = Q.get_records_by_jet_drop(records, "0", PN1, record_type="request", limit=100)
    assert total == 1
    assert page.collect()[0].reference == b"\x01"


def test_exporter_tail_prototype_filter(spark, ingested):
    base, _ = ingested
    out = P.exporter_next_pulses(spark, base, PN1 - 10, [b"proto-x"]).collect()
    by_pn = {r.pulse_number: r.record_amount for r in out}
    # D2 parity: prototype_reference is carried only by state kinds
    # (activate/amend), so pulse 1's request record does not match
    assert by_pn[PN1] == 4 and by_pn[PN2] == 3
    nothing = P.exporter_next_pulses(spark, base, PN1 - 10, [b"other-proto"]).collect()
    assert nothing == []


def test_api_rendering_end_to_end(spark, ingested):
    base, _ = ingested
    records = pq.read_table(spark, base, "records")
    page, _ = Q.get_lifeline(records, OBJ, limit=2)
    rendered = api.render_refs([r.asDict() for r in api.records_to_api(page).collect()])
    assert len(rendered) == 2
    top = rendered[0]
    assert top["index"] == f"{PN2}:2"
    assert top["jet_drop_id"] == f"0:{PN2}"
    assert isinstance(top["object_reference"], str)  # base58 string
    assert top["type"] == "state"


def test_broken_chain_drop_excluded(spark, tmp_path):
    """A forked chain fails the whole jet drop (transformer.go:108-126);
    other drops of the pulse still land."""
    base = str(tmp_path / "tables")
    rows = [
        _rec(b"\x31", "activate", PN1, "0", 0, obj=b"\x33" * 8),
        _rec(b"\x32", "amend", PN1, "0", 1, obj=b"\x33" * 8, prev=b"\x31"),
        _rec(b"\x33", "amend", PN1, "0", 2, obj=b"\x33" * 8, prev=b"\x31"),  # fork!
        _rec(b"\x41", "activate", PN1, "1", 0, obj=b"\x44" * 8),
    ]
    raw = spark.createDataFrame(rows, schemas.RAW_RECORDS)
    P.ingest_batch(spark, base, raw)
    records = pq.read_table(spark, base, "records")
    jets_landed = {r.jet_id for r in records.select("jet_id").distinct().collect()}
    assert jets_landed == {"1"}
    # the pulse can never complete with jet "0" missing
    P.run_control_pass(spark, base)
    pulses = {r.pulse_number: r for r in pq.read_table(spark, base, "pulses").collect()}
    assert not pulses[PN1].is_complete


def test_removed_states_between_pulses(spark, tmp_path):
    """reference: test/api/object_lifeline_test.go:116-156 (C5000) —
    chains sliced at pulse boundaries (tail records missing at the end
    of one pulse, head records missing at the start of the next) still
    ingest, and the lifeline serves every delivered record."""
    base = str(tmp_path / "tables")
    obj = b"\x55" * 8
    refs = [bytes([0x60 + i]) for i in range(15)]
    rows = []
    # full linked chain of 15 amends split 5/5/5 over three pulses,
    # then deliver only [0:3], [7:10], [10:13] (prefix / suffix / prefix)
    prev = None
    all_rows = []
    for i, ref in enumerate(refs):
        pn = (PN1, PN2, 4_000_030)[i // 5]
        all_rows.append(
            _rec(ref, "activate" if i == 0 else "amend", pn, "0", i % 5, obj=obj, prev=prev)
        )
        prev = ref
    delivered = all_rows[0:3] + all_rows[7:10] + all_rows[10:13]
    raw = spark.createDataFrame(delivered, schemas.RAW_RECORDS)
    P.ingest_batch(spark, base, raw)
    records = pq.read_table(spark, base, "records")
    page, total = Q.get_lifeline(records, obj, limit=100)
    assert total == len(delivered)
    keys = [(r.pulse_number, r.order) for r in page.collect()]
    assert keys == sorted(keys, reverse=True)


def test_receive_new_object_states_incremental(spark, tmp_path):
    """reference: test/api/object_lifeline_test.go:225-256 (C5082) —
    the lifeline grows as later pulses arrive in separate batches."""
    base = str(tmp_path / "tables")
    obj = b"\x66" * 8
    prev = None
    batches = []
    for b in range(5):
        pn = 4_000_010 + 10 * b
        rows = []
        for i in range(2):
            ref = bytes([0x70 + 2 * b + i])
            rows.append(
                _rec(ref, "activate" if (b == 0 and i == 0) else "amend", pn, "0", i, obj=obj, prev=prev)
            )
            prev = ref
        batches.append(rows)
    for rows in batches[:3]:
        P.ingest_batch(spark, base, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    _, total = Q.get_lifeline(pq.read_table(spark, base, "records"), obj, limit=100)
    assert total == 6
    for rows in batches[3:]:
        P.ingest_batch(spark, base, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    page, total = Q.get_lifeline(pq.read_table(spark, base, "records"), obj, limit=100)
    assert total == 10
    keys = [(r.pulse_number, r.order) for r in page.collect()]
    assert keys == sorted(keys, reverse=True)


def test_fill_missed_states_reload(spark, tmp_path):
    """reference: test/api/object_lifeline_test.go:258-296 (C5083) —
    a within-pulse gap (missing middle state) makes the drop
    unbuildable (two fragments = broken chain -> drop fails), and the
    D6 reload with the complete batch heals it idempotently."""
    base = str(tmp_path / "tables")
    obj = b"\x77" * 8
    refs = [bytes([0x80 + i]) for i in range(5)]
    prev = None
    full = []
    for i, ref in enumerate(refs):
        full.append(_rec(ref, "activate" if i == 0 else "amend", PN1, "0", i, obj=obj, prev=prev))
        prev = ref
    gappy = full[:2] + full[3:]  # record 2 missing -> two fragments
    P.ingest_batch(spark, base, spark.createDataFrame(gappy, schemas.RAW_RECORDS))
    assert pq.read_table(spark, base, "records").count() == 0  # drop failed whole
    # reload: the full batch re-delivers (reference re-pulls the pulse)
    P.ingest_batch(spark, base, spark.createDataFrame(full, schemas.RAW_RECORDS))
    page, total = Q.get_lifeline(pq.read_table(spark, base, "records"), obj, limit=100)
    assert total == 5
    assert [r.order for r in page.collect()] == [5, 4, 3, 2, 1]  # order is 1-based


def test_duplicate_records_in_batch_saved_once(spark, tmp_path):
    """reference: test/integration/db_integration_test.go:106-211
    (C5498) — the same records delivered twice (at-least-once source)
    land exactly once; derived counters count unique rows."""
    base = str(tmp_path / "tables")
    obj = b"\x88" * 8
    rows, prev = [], None
    for i, ref in enumerate([b"\x90", b"\x91", b"\x92"]):
        rows.append(_rec(ref, "activate" if i == 0 else "amend", PN1, "0", i, obj=obj, prev=prev))
        prev = ref
    raw = spark.createDataFrame(rows + rows, schemas.RAW_RECORDS)  # each twice
    P.ingest_batch(spark, base, raw)
    assert pq.read_table(spark, base, "records").count() == 3
    P.run_control_pass(spark, base)
    row = pq.read_table(spark, base, "pulses").filter(F.col("pulse_number") == PN1).collect()[0]
    assert (row.jet_drop_amount, row.record_amount) == (1, 3)


def test_reload_updates_pulse_links_and_drop_hashes(spark, tmp_path):
    """reference: test/integration/db_integration_test.go:312-388
    (C5649) — re-delivering a pulse with corrected metadata (real
    prev link, new jet-drop hashes) UPDATES the stored rows through
    the MERGE while counters stay correct."""
    base = str(tmp_path / "tables")
    obj = b"\x99" * 8
    rows, prev = [], None
    for i, ref in enumerate([b"\xa0", b"\xa1"]):
        rows.append(_rec(ref, "activate" if i == 0 else "amend", PN1, "0", i, obj=obj, prev=prev))
        prev = ref
    P.ingest_batch(spark, base, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    before = pq.read_table(spark, base, "pulses").collect()[0]
    assert before.prev_pulse_number == PN1 - 10  # nominal fallback link

    # reload: same records, now carrying the REAL prev link (irregular
    # cadence) and different raw payloads -> new drop hash
    updated = []
    for r in rows:
        r2 = dict(r)
        r2["prev_pulse_number"] = 100_000_000
        r2["raw_data"] = b"reloaded"
        updated.append(r2)
    P.ingest_batch(spark, base, spark.createDataFrame(updated, schemas.RAW_RECORDS))

    pulses = pq.read_table(spark, base, "pulses").collect()
    assert len(pulses) == 1
    assert pulses[0].prev_pulse_number == 100_000_000  # updated, not duplicated
    P.run_control_pass(spark, base)
    row = pq.read_table(spark, base, "pulses").collect()[0]
    assert (row.jet_drop_amount, row.record_amount) == (1, 2)
    assert pq.read_table(spark, base, "records").count() == 2


def test_amend_only_linked_chain_builds_lifeline(spark, tmp_path):
    """reference: test/api/object_lifeline_test.go:84-114 (C4999) — a
    lifeline delivered as linked AMEND records only (the activate head
    lives in an earlier, never-delivered pulse) still ingests as a
    complete chain and serves every record."""
    base = str(tmp_path / "tables")
    obj = b"\x77" * 8
    external_head = b"\xee" * 8  # never delivered
    prev = external_head
    rows = []
    for i in range(5):
        ref = bytes([0x70 + i])
        rows.append(_rec(ref, "amend", PN1, "0", i, obj=obj, prev=prev))
        prev = ref
    raw = spark.createDataFrame(rows, schemas.RAW_RECORDS)
    P.ingest_batch(spark, base, raw)
    records = pq.read_table(spark, base, "records")
    page, total = Q.get_lifeline(records, obj, limit=100)
    assert total == 5
    # chain order preserved: desc by (pulse, order) = reverse delivery
    # (order is 1..N per drop — chain_sort.py:43)
    assert [r.order for r in page.collect()] == [5, 4, 3, 2, 1]


def test_lifeline_states_single_pulse(spark, tmp_path):
    """reference: test/api/object_lifeline_test.go:19-51 (C4993) — a
    10-state linked chain delivered within ONE pulse builds the full
    lifeline; every served record carries that pulse number and the
    object's reference."""
    base = str(tmp_path / "tables")
    obj = b"\x91" * 8
    prev = None
    rows = []
    for i in range(10):
        ref = bytes([0x90 + i])
        rows.append(
            _rec(ref, "activate" if i == 0 else "amend", PN1, "0", i, obj=obj, prev=prev)
        )
        prev = ref
    P.ingest_batch(spark, base, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    records = pq.read_table(spark, base, "records")
    page, total = Q.get_lifeline(records, obj, limit=100)
    got = page.collect()
    assert total == 10
    assert all(r.pulse_number == PN1 for r in got)
    assert all(bytes(r.object_reference) == obj for r in got)


def test_lifeline_states_several_pulses(spark, tmp_path):
    """reference: test/api/object_lifeline_test.go:53-82 (C4994) — a
    linked chain of 10 states in each of 4 pulses serves all 40, each
    row stamped with one of the four pulses."""
    base = str(tmp_path / "tables")
    obj = b"\x92" * 8
    pulses = [PN1 + i * 10 for i in range(4)]
    prev = None
    rows = []
    for i in range(40):
        ref = bytes([i + 1]) + b"\x92"
        rows.append(
            _rec(ref, "activate" if i == 0 else "amend", pulses[i // 10], "0",
                 i % 10, obj=obj, prev=prev)
        )
        prev = ref
    P.ingest_batch(spark, base, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    records = pq.read_table(spark, base, "records")
    page, total = Q.get_lifeline(records, obj, limit=100)
    got = page.collect()
    assert total == 40
    assert {r.pulse_number for r in got} == set(pulses)
    # descending (pulse, order) — newest state first
    keys = [(r.pulse_number, r.order) for r in got]
    assert keys == sorted(keys, reverse=True)


def test_lifeline_skipped_states_within_pulse_fail_drop(spark, tmp_path):
    """reference: test/api/object_lifeline_test.go:158-187 (C5110) — a
    pulse whose delivered states have a GAP (records 4-5 of 10 missing)
    cannot build its chain: the whole drop is rejected, while the next
    pulse's intact chain (whose head links to an undelivered external
    state) still lands; the lifeline serves exactly those 10."""
    base = str(tmp_path / "tables")
    obj = b"\x93" * 8
    refs = [bytes([i + 1]) + b"\x93" for i in range(20)]
    all_rows = []
    prev = None
    for i, ref in enumerate(refs):
        pn = PN1 if i < 10 else PN2
        all_rows.append(
            _rec(ref, "activate" if i == 0 else "amend", pn, "0", i % 10, obj=obj, prev=prev)
        )
        prev = ref
    delivered = all_rows[:4] + all_rows[6:]  # gap inside pulse 1
    P.ingest_batch(spark, base, spark.createDataFrame(delivered, schemas.RAW_RECORDS))
    records = pq.read_table(spark, base, "records")
    assert {r.pulse_number for r in records.select("pulse_number").distinct().collect()} == {PN2}
    page, total = Q.get_lifeline(records, obj, limit=100)
    assert total == 10
    assert all(r.pulse_number == PN2 for r in page.collect())


def test_lifeline_same_prev_state_fails_drop(spark, tmp_path):
    """reference: test/api/object_lifeline_test.go:189-226 (C5004) —
    several states claiming the SAME prev state fork the chain: the
    forked pulse's drop is rejected; the following pulse's clean chain
    is served."""
    base = str(tmp_path / "tables")
    obj = b"\x94" * 8
    refs = [bytes([i + 1]) + b"\x94" for i in range(20)]
    rows = []
    prev = None
    for i, ref in enumerate(refs):
        pn = PN1 if i < 10 else PN2
        if i < 10:
            # states 5..9 of pulse 1 all claim refs[3] as prev (fork)
            this_prev = refs[3] if 5 <= i else prev
        else:
            this_prev = prev
        rows.append(
            _rec(ref, "activate" if i == 0 else "amend", pn, "0", i % 10,
                 obj=obj, prev=this_prev)
        )
        prev = ref
    P.ingest_batch(spark, base, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    records = pq.read_table(spark, base, "records")
    assert {r.pulse_number for r in records.select("pulse_number").distinct().collect()} == {PN2}
    page, total = Q.get_lifeline(records, obj, limit=100)
    assert total == 10


def test_records_with_empty_object_id_served_by_drop(spark, tmp_path):
    """reference: test/api/request_result_records_test.go:55-78
    (C5458/C5459) — request/result records with an EMPTY ObjectID are
    still ingested and served by their jet drop id. The reference
    derives a genesis object reference from the virtual payload
    (genesisrefs.GenesisRef); payloads are opaque bytes in this model,
    so the pinned adaptation is X10: empty object bytes render as an
    omitted object_reference (functions/refs.py::null_if_empty_bytes),
    and the records remain reachable through the drop, not the
    lifeline."""
    base = str(tmp_path / "tables")
    rows = [
        _rec(b"\xa1", "incoming_request", PN1, "0", 0, obj=b""),
        _rec(b"\xa2", "result", PN1, "0", 1, obj=b""),
        _rec(b"\xa3", "activate", PN1, "0", 2, obj=b"\x95" * 8),
    ]
    P.ingest_batch(spark, base, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    records = pq.read_table(spark, base, "records")
    page, total = Q.get_records_by_jet_drop(records, "0", PN1, limit=100)
    assert total == 3
    rendered = api.render_refs([r.asDict() for r in api.records_to_api(page).collect()])
    by_type = {r["type"]: r for r in rendered}
    assert "object_reference" not in {
        k for k, v in by_type["request"].items() if v is not None
    } or by_type["request"]["object_reference"] is None
    assert by_type["result"].get("object_reference") is None
    assert by_type["state"].get("object_reference")


def test_jet_drops_in_db_after_ingest(spark, tmp_path):
    """reference: test/integration/db_integration_test.go:213-261
    (C4992) — after ingesting two jets across two pulses, the
    jet_drops store answers per pulse with one drop per jet, each
    carrying its per-drop record count."""
    base = str(tmp_path / "tables")
    rows = []
    for jet, obj in (("0", b"\xb1" * 8), ("1", b"\xb2" * 8)):
        prev = None
        for i, pn in enumerate((PN1, PN1, PN2, PN2)):
            ref = bytes([0xB0 + i]) + jet.encode() * 2
            rows.append(
                _rec(ref, "activate" if i == 0 else "amend", pn, jet, i % 2,
                     obj=obj, prev=prev)
            )
            prev = ref
    P.ingest_batch(spark, base, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    drops = pq.read_table(spark, base, "jet_drops")
    by_pulse = {}
    for r in drops.collect():
        by_pulse.setdefault(r.pulse_number, []).append(r)
    assert len(by_pulse[PN1]) == 2 and len(by_pulse[PN2]) == 2
    assert {d.jet_id for d in by_pulse[PN1]} == {"0", "1"}
    assert all(d.record_amount == 2 for d in by_pulse[PN1] + by_pulse[PN2])


def test_pulses_in_db_with_derived_counters(spark, tmp_path):
    """reference: test/integration/db_integration_test.go:263-307
    (C5648) — the pulses store derives jet_drop_amount (2 jets) and
    record_amount (4 records) per pulse from the ingested drops."""
    base = str(tmp_path / "tables")
    rows = []
    for jet, obj in (("0", b"\xc1" * 8), ("1", b"\xc2" * 8)):
        prev = None
        for i, pn in enumerate((PN1, PN1, PN2, PN2)):
            ref = bytes([0xC0 + i]) + jet.encode() * 2
            rows.append(
                _rec(ref, "activate" if i == 0 else "amend", pn, jet, i % 2,
                     obj=obj, prev=prev)
            )
            prev = ref
    P.ingest_batch(spark, base, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    P.run_control_pass(spark, base)
    pulses = {r.pulse_number: r for r in pq.read_table(spark, base, "pulses").collect()}
    for pn in (PN1, PN2):
        assert pulses[pn].jet_drop_amount == 2
        assert pulses[pn].record_amount == 4
