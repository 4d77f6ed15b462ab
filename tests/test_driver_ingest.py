"""Ingest placement (streaming/pipeline.py): a raw batch the bounded
probe can collect (block_explorer_spark.placement) runs on the driver,
anything bigger on the cluster; both run the ONE group step
(chain_sort.make_sort_group: decode → dedupe → chain walk) and the ONE
commit tail (pipeline._commit). These tests pin:

(a) the one decode on the mixed batch's cases;
(b) each placement lands the same, fully spelled-out tables for a
    batch mixing clean chains, a forked drop, byte-identical replays,
    replays differing only in a decode-cleared column, unsupported
    kinds (also a whole drop of them) and multiple pulses/jets;
(c) the split-pulse path recomputes jet-drop counts from the merged
    fact table on both placements, and refuses a store whose files no
    manifest lists until `parquet.migrate` adopts them;
(d) replay idempotency, and a replayed pulse keeps its flags and
    counters (the reference's SavePulse updates only links and
    timestamp);
(e) placement.ROWS = 0 keeps every step on the cluster;
(f) the narrowed fallbacks let unexpected errors through.
"""

from __future__ import annotations

import os

import pyarrow.parquet as papq
import pytest

from block_explorer_spark import placement, schemas
from block_explorer_spark.operators import chain_sort as CS
from block_explorer_spark.plans import transformer as Tr
from block_explorer_spark.sources import manifest as Mf
from block_explorer_spark.sources import parquet as pq
from block_explorer_spark.streaming import pipeline as P

TABLES = ("pulses", "records", "jet_drops")


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
    """Two pulses, three jets: a clean chain, non-state kinds carrying
    clearable columns, an exact replay pair, a replay pair differing
    only in a decode-cleared column, a forked drop, an unsupported
    kind, and a (pulse, jet) group of only unsupported kinds."""
    p1, p2 = P1, P2
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
        # replay pair differing only in the payload decode clears for
        # requests — collapses to one
        _rr(11, "incoming_request", p1, "1", 4, payload=b"a"),
        _rr(11, "incoming_request", p1, "1", 4, payload=b"b"),
        # a (pulse, jet) group of only unsupported kinds: no records,
        # no jet drop
        _rr(12, "genesis", p1, "01", 1),
        _rr(13, "code", p1, "01", 2),
        # forked drop (p2, "0"): two amends share one prev — whole
        # drop is invalid and must vanish from records
        _rr(20, "activate", p2, "0", 1, obj=b"C" * 8, prev=None),
        _rr(21, "amend", p2, "0", 2, obj=b"C" * 8, prev=(20).to_bytes(8, "big")),
        _rr(22, "amend", p2, "0", 3, obj=b"C" * 8, prev=(20).to_bytes(8, "big")),
        # p2 keeps one valid drop on jet "1"
        _rr(23, "activate", p2, "1", 1, obj=b"D" * 8, prev=None, prev_pn=p1, next_pn=p2 + 10),
    ]
    return rows


P1, P2 = 4_100_010, 4_100_020

#: What the mixed batch must land as records: reference → (order,
#: kept columns among prototype/prev/payload). Everything else is
#: copied from the raw row.
_MIXED_RECORDS = {
    1: (1, {"prototype_reference", "payload"}),
    2: (2, {"prototype_reference", "prev_record_reference", "payload"}),
    3: (3, {"prototype_reference", "prev_record_reference", "payload"}),
    4: (4, {"payload"}),
    5: (5, set()),
    6: (1, set()),
    7: (2, {"prev_record_reference"}),
    11: (3, set()),
    23: (1, {"prototype_reference", "payload"}),
}
_TYPE = {"activate": "state", "amend": "state", "deactivate": "state",
         "result": "result", "incoming_request": "request", "outgoing_request": "request"}


def _expected_mixed():
    cleared = ("prototype_reference", "prev_record_reference", "payload")
    raw = {int.from_bytes(r["reference"], "big"): r for r in reversed(_mixed_batch())}
    records = []
    for ref, (order, kept) in _MIXED_RECORDS.items():
        r = dict(raw[ref], type=_TYPE[raw[ref]["kind"]], order=order)
        r.update({c: None for c in cleared if c not in kept})
        records.append(tuple(r[f.name] for f in schemas.RECORDS.fields))
    ts = {p: 1_700_000_000 + p for p in (P1, P2)}
    drops = [(P1, "0", 5), (P1, "1", 3), (P2, "1", 1)]
    return {
        "records": sorted(records, key=repr),
        "jet_drops": sorted(
            ((p, j, None, None, None, None, ts[p], n) for p, j, n in drops), key=repr
        ),
        "pulses": sorted(
            [
                (P1, P1 - 10, P1 + 10, False, False, ts[P1], 0, 0),
                (P2, P1, P2 + 10, False, False, ts[P2], 0, 0),
            ],
            key=repr,
        ),
    }


def _table_rows(spark, base, name):
    return sorted(
        (tuple(r) for r in pq.read_table(spark, base, name).collect()),
        key=repr,
    )


def _tables(spark, base):
    return {n: _table_rows(spark, base, n) for n in TABLES}


def _on(monkeypatch, where: str) -> None:
    """Force `where`: the default gate takes the driver path for these
    small batches, ROWS = 0 turns every driver placement off."""
    if where == "cluster":
        monkeypatch.setattr(placement, "ROWS", 0)
    else:
        assert placement.ROWS >= len(_mixed_batch())


def test_decode_mixed_batch():
    """The one decode over the mixed batch: exactly the unsupported
    kinds are dropped, each kind gets its type and keeps only its
    columns among prototype/prev/payload."""
    out = CS.decode(_mixed_batch())
    assert all(
        sorted(r) == sorted(
            [f.name for f in schemas.RECORDS.fields if f.name != "order"] + ["position"]
        )
        for r in out
    )
    all3 = ("prototype_reference", "prev_record_reference", "payload")
    want = {  # reference → (type, columns left non-null)
        1: ("state", {"prototype_reference", "payload"}),
        2: ("state", set(all3)),
        3: ("state", set(all3)),
        4: ("result", {"payload"}),
        5: ("request", set()),
        6: ("request", set()),
        7: ("state", set()),
        11: ("request", set()),
        20: ("state", {"prototype_reference", "payload"}),
        21: ("state", set(all3)),
        22: ("state", set(all3)),
        23: ("state", {"prototype_reference", "payload"}),
    }
    got = [
        (
            int.from_bytes(r["reference"], "big"),
            (r["type"], {c for c in all3 if r[c] is not None}),
        )
        for r in out
    ]
    # replays are still both there: decode does not dedupe
    assert sorted(ref for ref, _ in got) == sorted(
        list(want) + [7, 11]
    )
    assert dict(got) == want


@pytest.mark.parametrize("where", ["driver", "cluster"])
def test_driver_and_cluster_ingest_identical(spark, tmp_path, monkeypatch, where):
    """Each placement lands the same fully spelled-out tables, so the
    two are identical: forked drop gone, replays collapsed (also the
    pair differing only in a cleared column), the all-unsupported
    drop absent, non-state columns cleared, counts per drop."""
    _on(monkeypatch, where)
    took: list[str] = []
    driver = P._ingest_batch_driver
    monkeypatch.setattr(
        P, "_ingest_batch_driver", lambda *a: (took.append("driver"), driver(*a))
    )
    base = str(tmp_path / where)
    P.ingest_batch(spark, base, spark.createDataFrame(_mixed_batch(), schemas.RAW_RECORDS))
    assert took == (["driver"] if where == "driver" else [])
    assert _tables(spark, base) == _expected_mixed()


def test_driver_ingest_replay_idempotent(spark, tmp_path):
    base = str(tmp_path / "s")
    raw = spark.createDataFrame(_mixed_batch(), schemas.RAW_RECORDS)
    P.ingest_batch(spark, base, raw)
    before = _tables(spark, base)
    P.ingest_batch(spark, base, raw)  # replay: byte-identical batch
    after = _tables(spark, base)
    assert before == after


def test_control_pass_decisions_and_stability(spark, tmp_path):
    """run_control_pass over one ingested batch: trie coverage (root
    jet, sibling pair, half-covered), the D5 frontier walk across
    step-10 chain links, the gap scan and the counter refresh; a
    second pass decides nothing new and leaves the table as it was."""
    base = str(tmp_path / "s")
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
    P.ingest_batch(spark, base, spark.createDataFrame(rows, schemas.RAW_RECORDS))
    out1 = P.run_control_pass(spark, base)
    swept = _table_rows(spark, base, "pulses")
    out2 = P.run_control_pass(spark, base)  # stability

    assert out1["completed"] == [p, p + 10, p + 40]
    assert out1["sequential"] == [p, p + 10]  # stops at the incomplete p+20
    assert out1["gaps"] == [(p + 20, p + 40)]
    assert out2 == {"completed": [], "sequential": [], "gaps": [(p + 20, p + 40)]}
    assert _table_rows(spark, base, "pulses") == swept
    # (pulse, is_complete, is_sequential, jet_drop_amount, record_amount)
    assert [(r[0], r[3], r[4], r[6], r[7]) for r in swept] == [
        (p, True, True, 1, 2),
        (p + 10, True, True, 2, 2),
        (p + 20, False, False, 1, 1),
        (p + 40, True, False, 1, 1),
    ]


@pytest.mark.parametrize("force_cluster", [False, True])
def test_split_pulse_recounts_after_merge(spark, tmp_path, monkeypatch, force_cluster):
    """A pulse whose records arrive across two micro-batches must end
    with jet-drop counts covering the MERGED fact table (prior>0
    path), identically on both paths."""
    if force_cluster:
        monkeypatch.setattr(placement, "ROWS", 0)
    base = str(tmp_path / ("c" if force_cluster else "d"))
    p = 4_100_010
    b1 = [_rr(30 + i, "activate", p, "0", i + 1, obj=bytes([i]) * 8, prev=None) for i in range(3)]
    b2 = [_rr(40 + i, "activate", p, "0", i + 1, obj=bytes([64 + i]) * 8, prev=None) for i in range(2)]
    P.ingest_batch(spark, base, spark.createDataFrame(b1, schemas.RAW_RECORDS))
    P.ingest_batch(spark, base, spark.createDataFrame(b2, schemas.RAW_RECORDS))
    drops = pq.read_table(spark, base, "jet_drops").collect()
    assert len(drops) == 1
    assert drops[0].record_amount == 5


@pytest.mark.parametrize("where", ["driver", "cluster"])
def test_split_pulse_into_unadopted_store_recounts(spark, tmp_path, monkeypatch, where):
    """The same split pulse against a store whose data files no
    manifest lists (version 0, as a warehouse written before the
    manifest log looks): its empty manifest proves nothing, so the
    second delivery and a control pass refuse, naming `migrate`, and
    change no file (a commit would overwrite the split drop's count).
    After `parquet.migrate` the counts cover both deliveries."""
    import os
    import shutil

    def files():
        return {
            os.path.join(root, fn): os.stat(os.path.join(root, fn)).st_mtime_ns
            for root, _dirs, fns in os.walk(base)
            for fn in fns
        }

    _on(monkeypatch, where)
    base = str(tmp_path / where)
    p = 4_100_010
    b1 = [_rr(30 + i, "activate", p, "0", i + 1, obj=bytes([i]) * 8, prev=None) for i in range(3)]
    b2 = [_rr(40 + i, "activate", p, "0", i + 1, obj=bytes([64 + i]) * 8, prev=None) for i in range(2)]
    P.ingest_batch(spark, base, spark.createDataFrame(b1, schemas.RAW_RECORDS))
    shutil.rmtree(os.path.join(base, "_manifest"))
    assert Mf.current_version(base) == 0
    before = files()
    with pytest.raises(RuntimeError, match="migrate"):
        P.ingest_batch(spark, base, spark.createDataFrame(b2, schemas.RAW_RECORDS))
    with pytest.raises(RuntimeError, match="migrate"):
        P.run_control_pass(spark, base)
    assert files() == before
    assert pq.migrate(base) > 0
    P.ingest_batch(spark, base, spark.createDataFrame(b2, schemas.RAW_RECORDS))
    drops = pq.read_table(spark, base, "jet_drops").collect()
    assert len(drops) == 1
    assert drops[0].record_amount == 5


@pytest.mark.parametrize("where", ["driver", "cluster"])
def test_replayed_pulse_keeps_flags_and_counters(spark, tmp_path, monkeypatch, where):
    """Three pulses ingested and swept one by one are complete and
    sequential; re-ingesting the middle one must leave the pulses
    table as it was, right after the commit and after the next control
    pass (a replay used to reset the flags, and the sequential one
    never came back: the frontier had already passed it)."""
    _on(monkeypatch, where)
    base = str(tmp_path / where)

    def delivery(pn):
        rows = [
            _rr(pn * 10 + i, "activate", pn, "", i + 1, obj=bytes([i]) * 8, prev=None)
            for i in range(2)
        ]
        return spark.createDataFrame(rows, schemas.RAW_RECORDS)

    for pn in (1000, 1010, 1020):
        P.ingest_batch(spark, base, delivery(pn))
        P.run_control_pass(spark, base)
    before = _table_rows(spark, base, "pulses")
    assert [(r[0], r[3], r[4], r[7]) for r in before] == [
        (pn, True, True, 2) for pn in (1000, 1010, 1020)
    ]
    P.ingest_batch(spark, base, delivery(1010))
    assert _table_rows(spark, base, "pulses") == before
    P.run_control_pass(spark, base)
    assert _table_rows(spark, base, "pulses") == before


def test_rows_zero_keeps_every_step_on_the_cluster(spark, tmp_path, monkeypatch):
    """placement.ROWS = 0 is the one switch: ingest (also a split
    pulse's recount), upsert_many and stage_df call no driver-side
    function, and the tables equal a default-gate run. The control
    pass has no cluster form; run after the switch is back, it lands
    the same tables on both stores."""
    split = [_rr(30, "activate", P2, "1", 2, obj=b"E" * 8, prev=None)]

    def run(base):
        P.ingest_batch(spark, base, spark.createDataFrame(_mixed_batch(), schemas.RAW_RECORDS))
        P.ingest_batch(spark, base, spark.createDataFrame(split, schemas.RAW_RECORDS))
        return _tables(spark, base)

    want = run(str(tmp_path / "default"))

    def forbidden(name):
        def call(*_a, **_kw):
            raise AssertionError(f"driver-side {name} called with ROWS = 0")

        return call

    monkeypatch.setattr(placement, "ROWS", 0)
    for mod, name in (
        (P, "_ingest_batch_driver"),
        (Tr, "transform_pulse_data_pdf"),
        (pq, "_plan_and_stage_arrow"),
        (pq, "_stage_arrow"),
        (pq, "_read_rels_arrow"),
        (pq, "_file_keys"),
        (Mf, "_stage_df_driver"),
        (papq, "read_table"),
    ):
        monkeypatch.setattr(mod, name, forbidden(name))
    got = run(str(tmp_path / "cluster"))
    assert Mf.stage_df(spark.range(3), str(tmp_path / "misc"), "ids")
    monkeypatch.undo()
    assert got == want
    # the control pass has no cluster form: it sweeps on the driver
    for name in ("default", "cluster"):
        P.run_control_pass(spark, str(tmp_path / name))
    assert _tables(spark, str(tmp_path / "cluster")) == _tables(spark, str(tmp_path / "default"))
    jd = {(r[0], r[1]): r[7] for r in got["jet_drops"]}
    assert jd[(P2, "1")] == 2  # the split pulse was recounted


def test_unexpected_errors_propagate_from_the_fallbacks(spark, tmp_path, monkeypatch):
    """The fallbacks on the placement path catch only what their case
    can raise; anything else (here a RuntimeError) propagates instead
    of silently choosing a path or answering "nothing there"."""

    def boom(*_a, **_kw):
        raise RuntimeError("boom")

    base = str(tmp_path / "s")
    P.ingest_batch(spark, base, spark.createDataFrame(_mixed_batch(), schemas.RAW_RECORDS))

    # the existing-rows lookup's Spark read (forced by a zero merge
    # gate): an error is not "no prior rows"
    with monkeypatch.context() as m:
        m.setattr(placement, "MERGE_BYTES", 0)
        m.setattr(pq, "read_table", boom)
        with pytest.raises(RuntimeError, match="boom"):
            P._existing_rows(spark, base, "jet_drops", [P1], [])

    # the control pass has one path: a failed read propagates
    with monkeypatch.context() as m:
        m.setattr(pq, "_read_rels_arrow", boom)
        with pytest.raises(RuntimeError, match="boom"):
            P.run_control_pass(spark, base)

    # the staging probe: an error is not "stage through Spark"
    with monkeypatch.context() as m:
        m.setattr(placement, "collect_bounded", boom)
        with pytest.raises(RuntimeError, match="boom"):
            Mf.stage_df(spark.range(3), str(tmp_path / "misc"), "ids")


def test_new_pulse_commit_reads_no_committed_file(spark, tmp_path, monkeypatch):
    """The steady all-new-pulses state: both existing-rows lookups
    (pulses, jet drops) and the collision checks are answered by the
    manifest's zone maps alone, so a driver commit of a new pulse
    opens no committed data file and runs no Spark read."""
    base = str(tmp_path / "s")

    def delivery(pn):
        rows = [_rr(pn * 10 + i, "activate", pn, "", i + 1, obj=bytes([i]) * 8) for i in range(2)]
        return spark.createDataFrame(rows, schemas.RAW_RECORDS)

    P.ingest_batch(spark, base, delivery(1000))
    P.run_control_pass(spark, base)

    def no_read(*_a, **_kw):
        raise AssertionError("a new pulse's commit read a committed file")

    # ParquetFile may open only the commit's own new files (their
    # footers feed the zone maps), never a committed one
    committed = {
        os.path.join(base, rel)
        for rels in Mf.read(base)["families"].values() for rel in rels
    }
    parquet_file = papq.ParquetFile

    def open_new_only(path, *a, **kw):
        if str(path) in committed:
            no_read()
        return parquet_file(path, *a, **kw)

    nxt = delivery(1010)
    monkeypatch.setattr(papq, "read_table", no_read)
    monkeypatch.setattr(papq, "ParquetFile", open_new_only)
    monkeypatch.setattr(pq, "read_table", no_read)
    P.ingest_batch(spark, base, nxt)
    monkeypatch.undo()
    assert [r[0] for r in _table_rows(spark, base, "pulses")] == [1000, 1010]


def test_colliding_upsert_opens_each_committed_file_once(spark, tmp_path, monkeypatch):
    """A driver upsert that collides with its bucket's only file (a
    control pass flipping one pulse's flags commits exactly this)
    merges from the collision probe's read: no committed file is
    opened twice."""
    import pyarrow as pa

    base = str(tmp_path / "s")
    rows = [
        {"pulse_number": pn, "prev_pulse_number": pn - 10, "next_pulse_number": pn + 10,
         "is_complete": False, "is_sequential": False, "timestamp": pn,
         "jet_drop_amount": 0, "record_amount": 0}
        for pn in (1000, 1010, 1020)
    ]
    schema = pq._arrow_schema("pulses")
    pq.upsert_many(spark, base, {"pulses": pa.Table.from_pylist(rows, schema=schema)})
    committed = {os.path.join(base, r) for r in Mf.read(base)["families"]["pulses"]}
    opens: dict[str, int] = {}
    parquet_file, read_table = papq.ParquetFile, papq.read_table

    def counted(real):
        def open_(path, *a, **kw):
            opens[str(path)] = opens.get(str(path), 0) + 1
            return real(path, *a, **kw)
        return open_

    flipped = dict(rows[1], is_complete=True)
    monkeypatch.setattr(papq, "ParquetFile", counted(parquet_file))
    monkeypatch.setattr(papq, "read_table", counted(read_table))
    pq.upsert_many(spark, base, {"pulses": pa.Table.from_pylist([flipped], schema=schema)})
    monkeypatch.undo()
    assert {p: opens.get(p, 0) for p in committed} == {p: 1 for p in committed}
    got = {r[0]: r[3] for r in _table_rows(spark, base, "pulses")}
    assert got == {1000: False, 1010: True, 1020: False}
