"""Commit fault matrix for the ingest transaction (pipeline._commit →
parquet.upsert_many → manifest.commit → the split-pulse recount).

A split-pulse delivery is interrupted by an error injected at one step:

(a) in one table's staging thread;
(b) before the compare-and-swap, through Mf.file_stats;
(c) in Mf.commit, after the real commit has published the version;
(d) between upsert_many and the split pulse's jet-drop recount.

For each, no data file is left unlisted right after the error (an
error before the CAS discards the attempt's staged files; one in or
after the commit leaves them listed), replaying the same delivery and
control pass lands the tables an uninterrupted run lands, and after
vacuum the table directories hold only listed files.
"""

from __future__ import annotations

import pytest

from block_explorer_spark import schemas
from block_explorer_spark.sources import manifest as Mf
from block_explorer_spark.sources import parquet as pq
from block_explorer_spark.streaming import pipeline as P

PULSE = 4_100_010
DIRS = ["pulses", "jet_drops", "records", pq.OBJIDX]


def _raw(ref: int, pulse: int, pos: int) -> dict:
    return {
        "reference": ref.to_bytes(8, "big"),
        "kind": "activate",
        "object_reference": ref.to_bytes(8, "big"),
        "prototype_reference": b"p",
        "payload": b"x",
        "prev_record_reference": None,
        "hash": b"h",
        "raw_data": b"r",
        "jet_id": "0",
        "pulse_number": pulse,
        "timestamp": 1_700_000_000 + pulse,
        "position": pos,
        "prev_pulse_number": None,
        "next_pulse_number": None,
    }


def _deliveries(spark):
    """Three records of PULSE, then two more of PULSE (a split pulse:
    its jet drop exists, so the commit recounts it) with two of the
    next pulse."""
    first = [_raw(10 + i, PULSE, i + 1) for i in range(3)]
    second = [_raw(20 + i, PULSE, 4 + i) for i in range(2)] + [
        _raw(30 + i, PULSE + 10, i + 1) for i in range(2)
    ]
    return [spark.createDataFrame(b, schemas.RAW_RECORDS) for b in (first, second)]


def _tables(spark, base):
    return {
        n: sorted(tuple(r) for r in pq.read_table(spark, base, n).collect())
        for n in ("pulses", "jet_drops", "records")
    }


def _deliver(spark, base, batch):
    P.ingest_batch(spark, base, batch)
    P.run_control_pass(spark, base)


def _inject(m, fault: str) -> None:
    def boom(*_a, **_kw):
        raise RuntimeError("injected")

    if fault == "staging_thread":
        real_stage = pq._plan_and_stage_arrow

        def stage(base, snap, name, *a):
            if name == "records":
                boom()
            return real_stage(base, snap, name, *a)

        m.setattr(pq, "_plan_and_stage_arrow", stage)
    elif fault == "before_cas":
        m.setattr(Mf, "file_stats", boom)
    elif fault == "in_commit":
        real_commit = Mf.commit

        def commit(*a, **kw):
            real_commit(*a, **kw)
            boom()

        m.setattr(Mf, "commit", commit)
    else:
        m.setattr(pq, "upsert", boom)  # the recount's single-table upsert


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("faults") / "clean")
    for batch in _deliveries(spark):
        _deliver(spark, base, batch)
    return _tables(spark, base)


@pytest.mark.parametrize(
    "fault", ["staging_thread", "before_cas", "in_commit", "before_recount"]
)
def test_replay_after_fault_converges_without_orphans(
    spark, tmp_path, monkeypatch, uninterrupted, fault
):
    base = str(tmp_path / fault)
    first, second = _deliveries(spark)
    _deliver(spark, base, first)
    with monkeypatch.context() as m:
        _inject(m, fault)
        with pytest.raises(RuntimeError, match="injected"):
            P.ingest_batch(spark, base, second)
    assert Mf.unmanifested_files(base, DIRS) == {}

    _deliver(spark, base, second)
    assert _tables(spark, base) == uninterrupted
    jd = {r[:2]: r[7] for r in uninterrupted["jet_drops"]}
    assert jd == {(PULSE, "0"): 5, (PULSE + 10, "0"): 2}
    Mf.vacuum(base, min_age_s=0)
    assert Mf.unmanifested_files(base, DIRS) == {}
    assert _tables(spark, base) == uninterrupted
