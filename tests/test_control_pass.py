"""The control pass (streaming/pipeline.run_control_pass): D4
completeness, the D5 sequential walk, the D6 gap scan and the counter
refresh in one driver sweep over the pulses and jet_drops tables.

(a) A property test drives random delivery sequences over four pulse
    buckets: out-of-order arrival, pulses split across deliveries,
    replays, pulses that never arrive and a backfill below the
    sequential root. After every delivery the pass's return value and
    the pulses table must equal a short reference sweep over the full
    tables. Deliveries are written as Arrow batches through
    upsert_many (its pyarrow path), so no Spark job runs.
(b) The census: a pass runs no Spark job, reads one bucket's files per
    read, upserts only the rows it changes, and a pass with nothing to
    change commits nothing. An unreadable listed file propagates.
"""

from __future__ import annotations

import os
import random
import tempfile
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as papq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from block_explorer_spark.functions.jets import trie_covered
from block_explorer_spark.sources import manifest as Mf
from block_explorer_spark.sources import parquet as pq
from block_explorer_spark.streaming import pipeline as P

STEP = 10


def _rows(base: str, name: str) -> list[dict]:
    """Every row of table `name` in the latest snapshot, via pyarrow."""
    rels = Mf.read(base)["families"].get(name, [])
    cols = [f.name for f in pq.TABLE_SCHEMAS[name].fields]
    return sorted(
        (r for rel in rels
         for r in papq.read_table(os.path.join(base, rel), columns=cols).to_pylist()),
        key=lambda r: (r["pulse_number"], r.get("jet_id") or ""),
    )


def _reference(pulses: list[dict], drops: list[dict]):
    """The control pass's decisions, spelled out over whole tables:
    (completed, sequential, gaps) and the swept pulses rows."""
    jets, n_drops, n_recs = defaultdict(set), Counter(), Counter()
    for d in drops:
        jets[d["pulse_number"]].add(d["jet_id"])
        n_drops[d["pulse_number"]] += 1
        n_recs[d["pulse_number"]] += d["record_amount"] or 0
    rows = sorted(pulses, key=lambda r: r["pulse_number"])
    completed = [
        r["pulse_number"] for r in rows
        if not r["is_complete"] and jets[r["pulse_number"]]
        and trie_covered(list(jets[r["pulse_number"]]))
    ]
    complete = {r["pulse_number"] for r in rows if r["is_complete"]} | set(completed)
    frontier = max((r["pulse_number"] for r in rows if r["is_sequential"]), default=None)
    sequential, prev = [], frontier
    for r in rows:
        pn = r["pulse_number"]
        if pn not in complete or r["is_sequential"] or (frontier is not None and pn <= frontier):
            continue
        if prev is not None and r["prev_pulse_number"] != prev:
            break
        sequential.append(pn)
        prev = pn
    keys = [r["pulse_number"] for r in rows]
    gaps = [(a, b) for a, b in zip(keys, keys[1:]) if b != a + STEP]
    swept = [
        {
            **r,
            "is_complete": r["pulse_number"] in complete,
            "is_sequential": r["is_sequential"] or r["pulse_number"] in sequential,
            "jet_drop_amount": n_drops[r["pulse_number"]],
            "record_amount": n_recs[r["pulse_number"]],
        }
        for r in rows
    ]
    return {"completed": completed, "sequential": sequential, "gaps": gaps}, swept


def _leaves(rng: random.Random, splits: int) -> list[str]:
    """A random full binary split of the jet space (covers the trie)."""
    leaves = [""]
    for _ in range(splits):
        j = leaves.pop(rng.randrange(len(leaves)))
        leaves += [j + "0", j + "1"]
    return leaves


@st.composite
def deliveries(draw):
    """A chain of pulses over buckets 0-3 with real prev links, cut
    into deliveries of (pulse, prev, [(jet, records)]) parts."""
    rng = random.Random(draw(st.integers(0, 2**32 - 1)))
    chain = sorted({
        b * 1000 + STEP * off
        for b in range(4)
        for off in draw(st.lists(st.integers(95, 104), min_size=1, max_size=3))
    })
    prev = {pn: (chain[i - 1] if i else pn - STEP) for i, pn in enumerate(chain)}
    parts = []
    for pn in chain:
        if draw(st.integers(0, 9)) == 0:
            continue  # never arrives
        jets = _leaves(rng, draw(st.integers(0, 3)))
        if draw(st.integers(0, 4)) == 0 and len(jets) > 1:
            jets.pop(rng.randrange(len(jets)))  # stays incomplete
        drops = [(j, rng.randrange(4)) for j in jets]
        cut = rng.randrange(len(drops) + 1)  # a pulse split across deliveries
        parts += [(pn, prev[pn], piece) for piece in (drops[:cut], drops[cut:]) if piece]
    late = draw(st.integers(0, 2))  # backfill: the chain's first pulses last
    head = [p for p in parts if p[0] in chain[:late]]
    rest = [p for p in parts if p[0] not in chain[:late]]
    rng.shuffle(rest)  # out-of-order arrival
    seq = rest + head
    out, i = [], 0
    while i < len(seq):
        n = rng.randint(1, 3)
        out.append(seq[i:i + n])
        i += n
    for k in draw(st.lists(st.integers(0, 30), max_size=2)):  # replays
        if out:
            out.insert(min(k, len(out)), out[k % len(out)])
    return out


def _deliver(spark, base: str, delivery, seen: set) -> None:
    """What an ingest commit writes: new pulses start incomplete and
    unswept with zero counters (an existing pulse keeps its row), and
    the delivered jet drops are upserted."""
    pulses, drops = {}, []
    for pn, prev, jets in delivery:
        if pn not in seen:
            pulses[pn] = {
                "pulse_number": pn, "prev_pulse_number": prev,
                "next_pulse_number": pn + STEP, "is_complete": False,
                "is_sequential": False, "timestamp": 1_700_000_000 + pn,
                "jet_drop_amount": 0, "record_amount": 0,
            }
        drops += [
            {"pulse_number": pn, "jet_id": j, "timestamp": 1_700_000_000 + pn,
             "record_amount": n}
            for j, n in jets
        ]
    seen.update(pulses)
    batches = {"jet_drops": pa.Table.from_pylist(drops, schema=pq._arrow_schema("jet_drops"))}
    if pulses:
        batches["pulses"] = pa.Table.from_pylist(
            list(pulses.values()), schema=pq._arrow_schema("pulses")
        )
    pq.upsert_many(spark, base, batches)


@settings(
    max_examples=40, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(deliveries())
def test_control_pass_matches_reference_sweep(spark, seq):
    with tempfile.TemporaryDirectory() as d:
        base = os.path.join(d, "s")
        seen: set = set()
        for delivery in seq:
            _deliver(spark, base, delivery, seen)
            want, swept = _reference(_rows(base, "pulses"), _rows(base, "jet_drops"))
            assert P.run_control_pass(spark, base) == want
            assert _rows(base, "pulses") == swept


def _pulse(pn: int, done: bool) -> dict:
    return {
        "pulse_number": pn, "prev_pulse_number": pn - STEP,
        "next_pulse_number": pn + STEP, "is_complete": done,
        "is_sequential": done, "timestamp": pn,
        "jet_drop_amount": 2 if done else 0, "record_amount": 2 if done else 0,
    }


def _store(spark, base: str, pulses: list[int], swept: int) -> None:
    """Pulses with jets "0" and "1" (one record each); the first
    `swept` of them already complete, sequential and counted."""
    drops = [
        {"pulse_number": pn, "jet_id": j, "record_amount": 1}
        for pn in pulses for j in ("0", "1")
    ]
    pq.upsert_many(spark, base, {
        "pulses": pa.Table.from_pylist(
            [_pulse(pn, i < swept) for i, pn in enumerate(pulses)],
            schema=pq._arrow_schema("pulses"),
        ),
        "jet_drops": pa.Table.from_pylist(drops, schema=pq._arrow_schema("jet_drops")),
    })


def test_control_pass_census(spark, tmp_path, monkeypatch):
    """A tip pass on a 3-bucket store: no Spark job, every read covers
    one bucket's files, the frontier is read from the newest bucket
    only, the one commit carries only the changed row, and the next
    pass, with nothing to change, commits nothing."""
    base = str(tmp_path / "s")
    chain = [990 + STEP * i for i in range(203)]  # buckets 0, 1, 2, 3
    _store(spark, base, chain, swept=len(chain) - 1)
    assert {pq._bucket_of(pn) for pn in chain} == {0, 1, 2, 3}

    reads, commits = [], []
    read, upsert = pq._read_rels_arrow, pq.upsert_many

    def spy_read(base_, name, rels, cols=None):
        reads.append((name, {pq._rel_bucket(r) for r in rels}, cols))
        return read(base_, name, rels, cols)

    def spy_upsert(spark_, base_, batches, **kw):
        commits.append({n: t.column("pulse_number").to_pylist() for n, t in batches.items()})
        reads.append(("upsert_many", None, None))  # its own merge reads follow
        return upsert(spark_, base_, batches, **kw)

    monkeypatch.setattr(pq, "_read_rels_arrow", spy_read)
    monkeypatch.setattr(pq, "upsert_many", spy_upsert)
    sc = spark.sparkContext
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    try:
        sc.setLocalProperty("spark.jobGroup.id", "control-census-probe")
        spark.range(3).count()  # the census sees a job when one runs
        assert sc.statusTracker().getJobIdsForGroup("control-census-probe")

        sc.setLocalProperty("spark.jobGroup.id", "control-census")
        v0 = Mf.current_version(base)
        tip = chain[-1]
        out = P.run_control_pass(spark, base)
        assert sc.statusTracker().getJobIdsForGroup("control-census") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev_group)

    assert out == {"completed": [tip], "sequential": [tip], "gaps": []}
    assert Mf.current_version(base) == v0 + 1
    assert commits == [{"pulses": [tip]}]
    reads = reads[: reads.index(("upsert_many", None, None))]
    assert reads and all(len(buckets) == 1 for _n, buckets, _c in reads)
    probe = [b for _n, b, cols in reads if cols == ["pulse_number", "is_sequential"]]
    assert probe == [{3}]  # the newest bucket holds the frontier
    sweep = [min(b) for n, b, cols in reads if n == "pulses" and cols is None]
    assert sweep == [0, 1, 2, 3]
    assert [min(b) for n, b, _c in reads if n == "jet_drops"] == [0, 1, 2, 3]

    commits.clear()
    again = P.run_control_pass(spark, base)
    assert again == {"completed": [], "sequential": [], "gaps": []}
    assert commits == [] and Mf.current_version(base) == v0 + 1
    assert [(r["pulse_number"], r["is_sequential"], r["record_amount"]) for r in _rows(base, "pulses")] == [
        (pn, True, 2) for pn in chain
    ]


def test_unreadable_listed_file_propagates(spark, tmp_path):
    """The pass has no fallback: a listed file it cannot read raises,
    and nothing is committed."""
    base = str(tmp_path / "s")
    _store(spark, base, [1000, 1010, 2000], swept=0)
    rel = Mf.read(base)["families"]["jet_drops"][0]
    with open(os.path.join(base, rel), "wb") as f:
        f.write(b"not parquet")
    v = Mf.current_version(base)
    with pytest.raises((OSError, ValueError)):
        P.run_control_pass(spark, base)
    assert Mf.current_version(base) == v
