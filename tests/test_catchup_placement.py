"""Catch-up placement for the group-commit spool (streaming/pipeline.py
flush_pending): the spool's parquet footers give its exact row count,
so a spool over the driver gate (placement.ROWS) goes straight to the
cluster body with no probe collect, and records over it skip
stage_df's driver probe. These tests pin:

(a) above the gate, neither the spool probe nor the records staging
    probe runs, and the store matches the driver path's on the same
    spool: all three tables and the object index;
(b) one bucket lands as one records file, sorted like the range layout
    it replaces, with the same zone maps;
(c) a flush that fails keeps every spooled row, and the next flush
    ingests them exactly once.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as papq
import pytest

from block_explorer_spark import placement, schemas
from block_explorer_spark.plans import transformer as Tr
from block_explorer_spark.sources import manifest as Mf
from block_explorer_spark.sources import parquet as pq
from block_explorer_spark.streaming import pipeline as P

ONE_BUCKET = (4_100_010, 4_100_020, 4_100_030)
TWO_BUCKETS = (4_100_980, 4_100_990, 4_101_000)


def _chain_rows(pn: int, jets=("0", "1"), objs_per_jet: int = 3, recs_per_obj: int = 3):
    """Raw records for one pulse: per jet, a few objects each with an
    activate + amend chain."""
    rng = random.Random(pn)
    rows = []
    for jet in jets:
        pos = 0
        for _ in range(objs_per_jet):
            obj, prev = rng.randbytes(8), None
            for i in range(recs_per_obj):
                ref = rng.randbytes(8)
                rows.append({
                    "reference": ref,
                    "kind": "activate" if i == 0 else "amend",
                    "object_reference": obj,
                    "prototype_reference": b"proto",
                    "payload": b"p",
                    "prev_record_reference": prev,
                    "hash": b"h",
                    "raw_data": b"r",
                    "jet_id": jet,
                    "pulse_number": pn,
                    "timestamp": 1_600_000_000 + pn,
                    "position": pos,
                })
                prev = ref
                pos += 1
    return rows


def _spool(spark, ckpt: str, rows: list[dict]) -> str:
    spool = os.path.join(ckpt, "group_spool")
    spark.createDataFrame(rows, schemas.RAW_RECORDS).write.mode("append").parquet(spool)
    return spool


def _rows(spark, base, name):
    return sorted((tuple(r) for r in pq.read_table(spark, base, name).collect()), key=repr)


def _objidx_pairs(base):
    m = Mf.read(base)
    assert m["meta"]["layout"]["objidx"] == "full"
    return sorted(
        pair
        for rel in m["families"][pq.OBJIDX]
        for pair in zip(
            *papq.read_table(
                os.path.join(base, rel), columns=[pq.OBJ_KEY, "pulse_bucket"]
            ).to_pydict().values()
        )
    )


@pytest.mark.parametrize("pulses", [ONE_BUCKET, TWO_BUCKETS], ids=["one_bucket", "two_buckets"])
def test_above_gate_flush_skips_probes_and_matches_driver_path(
    spark, tmp_path, monkeypatch, pulses
):
    rows = [r for pn in pulses for r in _chain_rows(pn)]
    drv, clu = str(tmp_path / "drv"), str(tmp_path / "clu")

    _spool(spark, str(tmp_path / "ck_drv"), rows)
    assert P.flush_pending(spark, drv, str(tmp_path / "ck_drv")) == len(rows)

    staged_driver: list[str] = []
    stage_driver = Mf._stage_df_driver

    def spy_stage(df, base, data_name, partition_by):
        staged_driver.append(data_name)
        return stage_driver(df, base, data_name, partition_by)

    probe = placement.collect_bounded

    def no_spool_probe(df):
        assert "kind" not in df.columns, "a spool over the gate must not be probed"
        return probe(df)

    gate = len(rows) // 3  # spool and records over it; pulses/jet drops under
    monkeypatch.setattr(placement, "ROWS", gate)
    monkeypatch.setattr(Mf, "_stage_df_driver", spy_stage)
    monkeypatch.setattr(placement, "collect_bounded", no_spool_probe)
    spool = _spool(spark, str(tmp_path / "ck_clu"), rows)
    assert P.flush_pending(spark, clu, str(tmp_path / "ck_clu")) == len(rows)
    monkeypatch.undo()

    assert not os.path.exists(spool)
    assert "records" not in staged_driver
    for name in ("pulses", "jet_drops", "records"):
        assert _rows(spark, clu, name) == _rows(spark, drv, name), name
    assert _objidx_pairs(clu) == _objidx_pairs(drv)

    if pulses is ONE_BUCKET:
        m_clu, m_drv = Mf.read(clu), Mf.read(drv)
        (rel,) = m_clu["families"]["records"]
        (rel_drv,) = m_drv["families"]["records"]
        t = papq.read_table(os.path.join(clu, rel))
        keys = list(zip(
            t.column(pq.OBJ_KEY).to_pylist(),
            t.column("pulse_number").to_pylist(),
            t.column("order").to_pylist(),
        ))
        assert keys == sorted(keys)
        assert m_clu["stats"][rel] == m_drv["stats"][rel_drv]


@pytest.mark.parametrize("where", ["driver", "cluster"])
def test_failed_flush_keeps_spool_and_next_flush_ingests_once(
    spark, tmp_path, monkeypatch, where
):
    rows = [r for pn in ONE_BUCKET for r in _chain_rows(pn)]
    base, ckpt = str(tmp_path / "wh"), str(tmp_path / "ck")
    spool = _spool(spark, ckpt, rows)
    files = sorted(os.listdir(spool))

    def failing_read(*_a, **_kw):
        raise OSError("spool read failed")

    with monkeypatch.context() as m:
        if where == "driver":
            m.setattr(placement, "collect_bounded", failing_read)
        else:
            m.setattr(placement, "ROWS", 1)
            m.setattr(Tr, "transform_pulse_data", failing_read)
        with pytest.raises(OSError, match="spool read failed"):
            P.flush_pending(spark, base, ckpt)

    assert sorted(os.listdir(spool)) == files  # nothing ingested, nothing lost
    assert pq.read_table(spark, base, "records").count() == 0
    assert P.flush_pending(spark, base, ckpt) == len(rows)
    assert pq.read_table(spark, base, "records").count() == len(rows)
    assert pq.read_table(spark, base, "pulses").count() == len(ONE_BUCKET)
    assert P.flush_pending(spark, base, ckpt) == 0  # spool cleared


def test_spool_without_data_files_is_empty(spark, tmp_path):
    """Only a spool holding no data files counts as empty (and is
    cleared); Spark's marker files do not count."""
    ckpt = str(tmp_path / "ck")
    spool = os.path.join(ckpt, "group_spool")
    os.makedirs(spool)
    open(os.path.join(spool, "_SUCCESS"), "w").close()
    assert P.flush_pending(spark, str(tmp_path / "wh"), ckpt) == 0
    assert not os.path.exists(spool)
