"""r12 driver-side micro-batch ingest (streaming/pipeline.py): a raw
batch at or under pq.DRIVER_STAGE_ROWS runs decode + chain sort +
per-pulse planning + staging entirely on the driver (ONE Spark job —
the probe collect), through the SAME chain-sort function object the
cluster applyInPandas wraps. These tests pin:

(a) decode equivalence: _decode_pandas == decode_records row-for-row;
(b) whole-path equivalence: driver vs cluster ingest of a batch mixing
    clean chains, a forked drop, byte-identical replays, unsupported
    kinds and multiple pulses/jets lands identical tables;
(c) the split-pulse (prior>0) path recomputes jet-drop counts from the
    merged fact table on the driver path too;
(d) replay idempotency on the driver path;
(e) the zone-pruned prior probe: no overlap → jet_drops ride the main
    commit; overlap → recount (covered by (c)).
"""

from __future__ import annotations

import pytest

from block_explorer_spark import schemas
from block_explorer_spark.plans import transformer as Tr
from block_explorer_spark.sources import parquet as pq
from block_explorer_spark.streaming import pipeline as P


def _rr(ref: int, kind: str, pulse: int, jet: str, pos: int, **kw):
    row = {
        "reference": ref.to_bytes(8, "big"),
        "kind": kind,
        "object_reference": kw.get("obj", b"\x01" * 8),
        "prototype_reference": kw.get("proto", b"\x02" * 8),
        "payload": kw.get("payload", b"pay"),
        "prev_record_reference": kw.get("prev"),
        "hash": b"h",
        "raw_data": b"r",
        "jet_id": jet,
        "pulse_number": pulse,
        "timestamp": 1_700_000_000 + pulse,
        "position": pos,
        "prev_pulse_number": kw.get("prev_pn"),
        "next_pulse_number": kw.get("next_pn"),
    }
    return row


def _mixed_batch() -> list[dict]:
    """Two pulses, two jets: a clean chain, non-state kinds carrying
    clearable columns, an exact replay pair, a forked drop, and an
    unsupported kind."""
    p1, p2 = 4_100_010, 4_100_020
    rows = [
        # clean chain on obj A in (p1, "0"): activate -> amend -> amend
        _rr(1, "activate", p1, "0", 3, obj=b"A" * 8, prev=None),
        _rr(2, "amend", p1, "0", 1, obj=b"A" * 8, prev=(1).to_bytes(8, "big")),
        _rr(3, "amend", p1, "0", 2, obj=b"A" * 8, prev=(2).to_bytes(8, "big")),
        # non-state kinds: proto/prev/payload must be cleared per rules
        _rr(4, "result", p1, "0", 4, prev=(9).to_bytes(8, "big")),
        _rr(5, "incoming_request", p1, "0", 5),
        _rr(6, "outgoing_request", p1, "1", 1),
        # byte-identical replay pair in (p1, "1") — collapses to one
        _rr(7, "deactivate", p1, "1", 2, obj=b"B" * 8, prev=None),
        _rr(7, "deactivate", p1, "1", 2, obj=b"B" * 8, prev=None),
        # unsupported kind — dropped by decode
        _rr(8, "genesis", p1, "1", 3),
        # forked drop (p2, "0"): two amends share one prev — whole
        # drop is invalid and must vanish from records
        _rr(20, "activate", p2, "0", 1, obj=b"C" * 8, prev=None),
        _rr(21, "amend", p2, "0", 2, obj=b"C" * 8, prev=(20).to_bytes(8, "big")),
        _rr(22, "amend", p2, "0", 3, obj=b"C" * 8, prev=(20).to_bytes(8, "big")),
        # p2 keeps one valid drop on jet "1"
        _rr(23, "activate", p2, "1", 1, obj=b"D" * 8, prev=None, prev_pn=p1, next_pn=p2 + 10),
    ]
    return rows


def _table_rows(spark, base, name):
    return sorted(
        (tuple(r) for r in pq.read_table(spark, base, name).collect()),
        key=repr,
    )


def test_decode_pandas_matches_spark(spark):
    raw = spark.createDataFrame(_mixed_batch(), schemas.RAW_RECORDS)
    want = raw.toPandas()
    got = Tr._decode_pandas(want)
    spark_out = Tr.decode_records(raw).toPandas()
    cols = sorted(spark_out.columns)
    a = sorted(
        map(repr, got[cols].itertuples(index=False, name=None))
    )
    b = sorted(
        map(repr, spark_out[cols].itertuples(index=False, name=None))
    )
    assert a == b
    # decode dropped exactly the unsupported kind
    assert len(got) == len(_mixed_batch()) - 1


def test_driver_and_cluster_ingest_identical(spark, tmp_path, monkeypatch):
    rows = _mixed_batch()
    d_drv = str(tmp_path / "drv")
    d_clu = str(tmp_path / "clu")

    assert pq.DRIVER_STAGE_ROWS >= len(rows)  # default gate takes the driver path
    P.ingest_batch(spark, d_drv, spark.createDataFrame(rows, schemas.RAW_RECORDS))

    monkeypatch.setattr(pq, "DRIVER_STAGE_ROWS", 0)  # force the cluster path
    P.ingest_batch(spark, d_clu, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    monkeypatch.undo()

    for name in ("pulses", "records", "jet_drops"):
        assert _table_rows(spark, d_drv, name) == _table_rows(
            spark, d_clu, name
        ), name

    # spot invariants: forked drop vanished, replay collapsed,
    # non-state columns cleared
    recs = pq.read_table(spark, d_drv, "records").collect()
    assert not [r for r in recs if r.pulse_number == 4_100_020 and r.jet_id == "0"]
    assert len([r for r in recs if r.reference == (7).to_bytes(8, "big")]) == 1
    res = [r for r in recs if r.type == "result"][0]
    assert res.prototype_reference is None and res.prev_record_reference is None
    assert res.payload == b"pay"
    req = [r for r in recs if r.type == "request"]
    assert all(r.payload is None for r in req)


def test_driver_ingest_replay_idempotent(spark, tmp_path):
    base = str(tmp_path / "s")
    raw = spark.createDataFrame(_mixed_batch(), schemas.RAW_RECORDS)
    P.ingest_batch(spark, base, raw)
    before = {n: _table_rows(spark, base, n) for n in ("pulses", "records", "jet_drops")}
    P.ingest_batch(spark, base, raw)  # replay: byte-identical batch
    after = {n: _table_rows(spark, base, n) for n in ("pulses", "records", "jet_drops")}
    assert before == after


def test_control_pass_driver_matches_spark(spark, tmp_path, monkeypatch):
    """run_control_pass's driver fast path must make the identical
    decisions and leave the identical pulses table as the Spark path:
    trie coverage (root jet, sibling pair, half-covered), the D5
    frontier walk across step-10 chain links, the gap scan, counter
    refresh, and sweep-to-sweep stability."""

    def build(base_dir):
        base = str(base_dir)
        p = 4_000_010
        rows = []
        # p: root jet, covered, 2 records
        rows += [_rr(100 + i, "activate", p, "", i + 1, obj=bytes([i]) * 8, prev=None) for i in range(2)]
        # p+10: jets "0"+"1" → covered
        rows += [_rr(110, "activate", p + 10, "0", 1, obj=b"E" * 8, prev=None)]
        rows += [_rr(111, "activate", p + 10, "1", 1, obj=b"F" * 8, prev=None)]
        # p+20: jet "0" only → NOT covered
        rows += [_rr(120, "activate", p + 20, "0", 1, obj=b"G" * 8, prev=None)]
        # p+40: gap from p+20; covered
        rows += [_rr(140, "activate", p + 40, "", 1, obj=b"H" * 8, prev=None)]
        from block_explorer_spark import schemas as S

        P.ingest_batch(spark, base, spark.createDataFrame(rows, S.RAW_RECORDS))
        out1 = P.run_control_pass(spark, base)
        out2 = P.run_control_pass(spark, base)  # stability
        return out1, out2, _table_rows(spark, base, "pulses")

    drv = build(tmp_path / "drv")
    monkeypatch.setattr(pq, "DRIVER_STAGE_ROWS", 0)   # cluster ingest
    monkeypatch.setattr(pq, "DRIVER_MERGE_BYTES", 0)  # cluster control pass
    clu = build(tmp_path / "clu")
    monkeypatch.undo()

    for got, want in zip(drv[:2], clu[:2]):
        assert sorted(got["completed"]) == sorted(want["completed"])
        assert sorted(got["sequential"]) == sorted(want["sequential"])
        assert sorted(got["gaps"]) == sorted(want["gaps"])
    assert drv[2] == clu[2]
    # spot invariants
    out1 = drv[0]
    p = 4_000_010
    assert sorted(out1["completed"]) == [p, p + 10, p + 40]
    assert sorted(out1["sequential"]) == [p, p + 10]  # stops at the incomplete p+20
    assert out1["gaps"] == [(p + 20, p + 40)]


@pytest.mark.parametrize("force_cluster", [False, True])
def test_split_pulse_recounts_after_merge(spark, tmp_path, monkeypatch, force_cluster):
    """A pulse whose records arrive across two micro-batches must end
    with jet-drop counts covering the MERGED fact table (prior>0
    path), identically on both paths."""
    if force_cluster:
        monkeypatch.setattr(pq, "DRIVER_STAGE_ROWS", 0)
    base = str(tmp_path / ("c" if force_cluster else "d"))
    p = 4_100_010
    b1 = [_rr(30 + i, "activate", p, "0", i + 1, obj=bytes([i]) * 8, prev=None) for i in range(3)]
    b2 = [_rr(40 + i, "activate", p, "0", i + 1, obj=bytes([64 + i]) * 8, prev=None) for i in range(2)]
    P.ingest_batch(spark, base, spark.createDataFrame(b1, schemas.RAW_RECORDS))
    P.ingest_batch(spark, base, spark.createDataFrame(b2, schemas.RAW_RECORDS))
    drops = pq.read_table(spark, base, "jet_drops").collect()
    assert len(drops) == 1
    assert drops[0].record_amount == 5


@pytest.mark.parametrize("force_cluster", [False, True])
def test_split_pulse_into_unadopted_store_recounts(spark, tmp_path, monkeypatch, force_cluster):
    """The same split pulse against a store in the directory layout
    written before the manifest log (version 0, not yet adopted): the
    empty manifest proves nothing, so the prior-drops probe must read
    the directory, and the counts must still cover both deliveries."""
    import os
    import shutil

    from block_explorer_spark.sources import manifest as Mf

    if force_cluster:
        monkeypatch.setattr(pq, "DRIVER_STAGE_ROWS", 0)
    base = str(tmp_path / ("c" if force_cluster else "d"))
    p = 4_100_010
    b1 = [_rr(30 + i, "activate", p, "0", i + 1, obj=bytes([i]) * 8, prev=None) for i in range(3)]
    b2 = [_rr(40 + i, "activate", p, "0", i + 1, obj=bytes([64 + i]) * 8, prev=None) for i in range(2)]
    P.ingest_batch(spark, base, spark.createDataFrame(b1, schemas.RAW_RECORDS))
    shutil.rmtree(os.path.join(base, "_manifest"))
    assert Mf.current_version(base) == 0
    P.ingest_batch(spark, base, spark.createDataFrame(b2, schemas.RAW_RECORDS))
    drops = pq.read_table(spark, base, "jet_drops").collect()
    assert len(drops) == 1
    assert drops[0].record_amount == 5
