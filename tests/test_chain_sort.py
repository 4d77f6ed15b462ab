from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from block_explorer_spark import schemas
from block_explorer_spark.operators.chain_sort import (
    BrokenChainError,
    order_group,
)
from block_explorer_spark.plans.transformer import transform_pulse_data


def _rec(ref, typ="state", obj=b"obj", prev=None, pos=0):
    return {
        "reference": ref,
        "type": typ,
        "object_reference": obj,
        "prototype_reference": b"pt",
        "payload": b"",
        "prev_record_reference": prev,
        "hash": b"h",
        "raw_data": b"r",
        "jet_id": "0",
        "pulse_number": 100,
        "timestamp": 1,
        "position": pos,
    }


def test_order_group_reorders_state_chain():
    # arrival order c,a,b but chain a->b->c
    rows = [
        _rec(b"c", prev=b"b", pos=0),
        _rec(b"a", prev=None, pos=1),
        _rec(b"b", prev=b"a", pos=2),
    ]
    out = order_group(rows)
    assert [r["reference"] for r in out] == [b"a", b"b", b"c"]
    assert [r["order"] for r in out] == [1, 2, 3]


def test_order_group_head_via_absent_prev():
    # head's prev points outside the drop (chain continues across pulses)
    rows = [
        _rec(b"y", prev=b"x", pos=0),
        _rec(b"z", prev=b"y", pos=1),
    ]
    out = order_group(rows)
    assert [r["reference"] for r in out] == [b"y", b"z"]


def test_order_group_nonstate_keep_position():
    rows = [
        _rec(b"req", typ="request", pos=0),
        _rec(b"s2", prev=b"s1", pos=1),
        _rec(b"s1", prev=None, pos=2),
        _rec(b"res", typ="result", pos=3),
    ]
    out = order_group(rows)
    assert [r["reference"] for r in out] == [b"req", b"s1", b"s2", b"res"]


def test_order_group_fork_raises():
    rows = [
        _rec(b"a", prev=None, pos=0),
        _rec(b"b", prev=b"a", pos=1),
        _rec(b"c", prev=b"a", pos=2),  # fork
    ]
    with pytest.raises(BrokenChainError):
        order_group(rows)


def test_order_group_broken_raises():
    rows = [
        _rec(b"a", prev=None, pos=0),
        _rec(b"c", prev=b"missing_b", pos=1),
    ]
    with pytest.raises(BrokenChainError):
        order_group(rows)


def test_chain_sort_drops_dataframe(spark):
    good = [
        _rec(b"c", prev=b"b", pos=0),
        _rec(b"a", prev=None, pos=1),
        _rec(b"b", prev=b"a", pos=2),
    ]
    bad = [
        dict(_rec(b"x", prev=None, pos=0), jet_id="1"),
        dict(_rec(b"z", prev=b"gone", pos=1, obj=b"obj"), jet_id="1"),
    ]
    # as raw amends, which decode passes through unchanged
    raw = [
        {**{k: v for k, v in r.items() if k != "type"}, "kind": "amend"}
        for r in good + bad
    ]
    df = spark.createDataFrame(raw, schemas.RAW_RECORDS)
    out = transform_pulse_data(df)
    rows = out.orderBy("order").collect()
    assert [bytes(r.reference) for r in rows] == [b"a", b"b", b"c"]
    assert [r.order for r in rows] == [1, 2, 3]
    kept = transform_pulse_data(df, drop_invalid=False)
    assert kept.count() == 5
    assert kept.filter(F.col("jet_id") == "1").count() == 2
