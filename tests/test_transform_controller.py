from __future__ import annotations

import random

from pyspark.sql import functions as F

from block_explorer_spark import schemas
from block_explorer_spark.operators import chain_sort as CS
from block_explorer_spark.plans import transformer as Tr
from block_explorer_spark.sources import generators as gen
from block_explorer_spark.sources import parquet as pq
from block_explorer_spark.streaming import pipeline as P


def _raw(ref, kind, obj=b"obj", prev=None, proto=b"proto", pos=0, jet="0", pn=100):
    return {
        "reference": ref,
        "kind": kind,
        "object_reference": obj,
        "prototype_reference": proto,
        "payload": b"p",
        "prev_record_reference": prev,
        "hash": b"h",
        "raw_data": b"r",
        "jet_id": jet,
        "pulse_number": pn,
        "timestamp": 1,
        "position": pos,
    }


def _decoded(rows):
    """The one decode (chain_sort.decode), keyed by reference."""
    from types import SimpleNamespace

    return {bytes(r["reference"]): SimpleNamespace(**r) for r in CS.decode(rows)}


def test_decode_kind_mapping():
    rows = [
        _raw(b"a", "activate", pos=0),
        _raw(b"b", "amend", prev=b"a", pos=1),
        _raw(b"c", "deactivate", prev=b"b", pos=2),
        _raw(b"d", "result", pos=3),
        _raw(b"e", "incoming_request", pos=4),
        _raw(b"f", "outgoing_request", pos=5),
        _raw(b"g", "unsupported_kind", pos=6),
    ]
    out = _decoded(rows)
    assert len(out) == 6  # unsupported skipped
    assert out[b"a"].type == "state" and out[b"a"].prev_record_reference is None
    assert out[b"b"].type == "state" and bytes(out[b"b"].prev_record_reference) == b"a"
    assert out[b"c"].type == "state" and out[b"c"].prototype_reference is None
    assert out[b"d"].type == "result"
    assert out[b"e"].type == "request" and out[b"f"].type == "request"


def test_transform_assigns_chain_order(spark):
    # records arrive out of chain order; amend chain a->b->c
    rows = [
        _raw(b"c", "amend", prev=b"b", pos=0),
        _raw(b"req", "incoming_request", obj=b"other", pos=1),
        _raw(b"a", "activate", pos=2),
        _raw(b"b", "amend", prev=b"a", pos=3),
    ]
    df = spark.createDataFrame(rows, schemas.RAW_RECORDS)
    out = Tr.transform_pulse_data(df).orderBy("order").collect()
    assert [bytes(r.reference) for r in out] == [b"a", b"req", b"b", b"c"]
    assert [r.order for r in out] == [1, 2, 3, 4]


def test_transform_drops_broken_chain_drop(spark):
    good = [_raw(b"a", "activate", jet="0", pos=0)]
    bad = [
        _raw(b"x", "activate", obj=b"o2", jet="1", pos=0),
        _raw(b"z", "amend", obj=b"o2", prev=b"missing", jet="1", pos=1),
    ]
    df = spark.createDataFrame(good + bad, schemas.RAW_RECORDS)
    out = Tr.transform_pulse_data(df)
    assert [r.jet_id for r in out.collect()] == ["0"]


def test_jet_drops_from_records(spark):
    rows = [
        _raw(b"a", "activate", jet="0", pn=100, pos=0),
        _raw(b"b", "amend", prev=b"a", jet="0", pn=100, pos=1),
        _raw(b"c", "activate", obj=b"o2", jet="1", pn=100, pos=0),
    ]
    recs = Tr.transform_pulse_data(spark.createDataFrame(rows, schemas.RAW_RECORDS))
    # the per-(pulse, jet) counts both placements hand the one builder
    counts = (
        recs.groupBy("pulse_number", "jet_id")
        .agg(F.count(F.lit(1)).alias("count_all"))
        .toArrow()
    )
    ts = gen.make_pulses(start=100, count=1)[0]["timestamp"]
    drops = P._jet_drops_table(counts, {100: ts})
    assert drops.schema == pq._arrow_schema("jet_drops")
    assert set(drops.column("timestamp").to_pylist()) == {ts}
    got = dict(zip(drops.column("jet_id").to_pylist(), drops.column("record_amount").to_pylist()))
    assert got == {"0": 2, "1": 1}


def _swept(spark, base, pulses, drops=()):
    """Write pulses (and jet drops) to a store at `base` as Arrow
    batches, then run one control pass over it."""
    import pyarrow as pa

    batches = {"pulses": pa.Table.from_pylist(pulses, schema=pq._arrow_schema("pulses"))}
    if drops:
        batches["jet_drops"] = pa.Table.from_pylist(drops, schema=pq._arrow_schema("jet_drops"))
    pq.upsert_many(spark, base, batches)
    return P.run_control_pass(spark, base)


def test_check_completeness_trie(spark, tmp_path):
    pulses = gen.make_pulses(start=1000, count=2, complete=False)
    rng = random.Random(1)
    drops = [
        gen.make_jet_drop(rng, 1000, "0"),
        gen.make_jet_drop(rng, 1000, "1"),  # full cover
        gen.make_jet_drop(rng, 1010, "0"),  # half cover
    ]
    base = str(tmp_path / "s")
    out = _swept(spark, base, pulses, drops)
    got = {r.pulse_number: r.is_complete for r in pq.read_table(spark, base, "pulses").collect()}
    assert got == {1000: True, 1010: False}
    assert out["completed"] == [1000]


def test_advance_sequential_stops_at_gap(spark, tmp_path):
    pulses = gen.make_pulses(start=1000, count=6, gaps=(3,), complete=True, sequential=False)
    pulses[0]["is_sequential"] = True  # frontier at 1000
    out = _swept(spark, str(tmp_path / "s"), pulses)
    assert out["sequential"] == [1010, 1020]  # halts: 1030 missing


def test_advance_sequential_stops_at_incomplete(spark, tmp_path):
    pulses = gen.make_pulses(start=1000, count=4, complete=True, sequential=False)
    pulses[0]["is_sequential"] = True
    pulses[2]["is_complete"] = False  # 1020 incomplete
    out = _swept(spark, str(tmp_path / "s"), pulses)
    assert out["sequential"] == [1010]


def test_find_gaps_and_reload_pool(spark, tmp_path):
    pulses = gen.make_pulses(start=1000, count=6, gaps=(2, 3))
    gaps = _swept(spark, str(tmp_path / "s"), pulses)["gaps"]
    assert gaps == [(1010, 1040)]


def test_decode_payload_only_for_memory_and_result():
    """transferToCanonicalRecord stores payload only for activate/amend
    (Memory) and result (Payload); deactivate and request kinds persist
    no payload — etl/transformer/transformer.go:231-277."""
    rows = [
        _raw(b"a", "activate", pos=0),
        _raw(b"b", "amend", prev=b"a", pos=1),
        _raw(b"c", "deactivate", prev=b"b", pos=2),
        _raw(b"d", "result", pos=3),
        _raw(b"e", "incoming_request", pos=4),
        _raw(b"f", "outgoing_request", pos=5),
    ]
    out = _decoded(rows)
    assert bytes(out[b"a"].payload) == b"p"
    assert bytes(out[b"b"].payload) == b"p"
    assert out[b"c"].payload is None
    assert bytes(out[b"d"].payload) == b"p"
    assert out[b"e"].payload is None
    assert out[b"f"].payload is None
