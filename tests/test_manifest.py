"""Manifest commit protocol (sources/manifest.py): CAS atomicity,
snapshot isolation, vacuum."""

from __future__ import annotations

import os

import pytest

from block_explorer_spark.sources import manifest as Mf


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "store")


def _touch(base, rel):
    p = os.path.join(base, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "wb") as f:
        f.write(b"x")
    return rel


def test_empty_store_reads_version_zero(base):
    m = Mf.read(base)
    assert m["version"] == 0 and m["families"] == {}
    assert Mf.live_files(base, "docs") == []


def test_commit_and_read_roundtrip(base):
    rels = [_touch(base, "data/a.parquet"), _touch(base, "data/b.parquet")]
    v = Mf.commit(base, {"docs": rels}, expect_version=0)
    assert v == 1
    m = Mf.read(base)
    assert m["version"] == 1
    assert sorted(m["families"]["docs"]) == sorted(rels)
    assert Mf.live_files(base, "docs") == sorted(os.path.join(base, r) for r in rels)


def test_cas_conflict_exactly_one_winner(base):
    _touch(base, "data/a.parquet")
    Mf.commit(base, {"docs": ["data/a.parquet"]}, expect_version=0)
    # two writers both read v1, both try to commit v2
    _touch(base, "data/b.parquet")
    _touch(base, "data/c.parquet")
    Mf.commit(base, {"docs": ["data/a.parquet", "data/b.parquet"]}, expect_version=1)
    with pytest.raises(Mf.CommitConflict):
        Mf.commit(
            base, {"docs": ["data/a.parquet", "data/c.parquet"]}, expect_version=1
        )
    # the loser's state never became visible
    assert "data/c.parquet" not in Mf.read(base)["families"]["docs"]


def test_old_snapshot_remains_readable_after_new_commit(base):
    _touch(base, "data/a.parquet")
    Mf.commit(base, {"docs": ["data/a.parquet"]}, expect_version=0)
    snap = Mf.read(base)
    _touch(base, "data/b.parquet")
    Mf.commit(base, {"docs": ["data/b.parquet"]}, expect_version=1)  # drops a
    # a reader pinned to the old snapshot still lists (and can read) a
    assert Mf.live_files(base, "docs", snap) == [os.path.join(base, "data/a.parquet")]
    assert os.path.exists(os.path.join(base, "data/a.parquet"))


def test_vacuum_removes_only_unreferenced(base):
    _touch(base, "data/a.parquet")
    _touch(base, "data/orphan.parquet")  # staged, never committed
    Mf.commit(base, {"docs": ["data/a.parquet"]}, expect_version=0)
    _touch(base, "data/b.parquet")
    Mf.commit(base, {"docs": ["data/b.parquet"]}, expect_version=1)
    removed = Mf.vacuum(base, keep_last=1, min_age_s=0)
    # a.parquet (dropped by v2) + orphan
    assert removed == 2
    assert not os.path.exists(os.path.join(base, "data/a.parquet"))
    assert not os.path.exists(os.path.join(base, "data/orphan.parquet"))
    assert os.path.exists(os.path.join(base, "data/b.parquet"))
    # old manifest versions pruned, current kept
    assert Mf.read(base)["version"] == 2


def test_vacuum_keep_last_protects_recent_snapshots(base):
    _touch(base, "data/a.parquet")
    Mf.commit(base, {"docs": ["data/a.parquet"]}, expect_version=0)
    _touch(base, "data/b.parquet")
    Mf.commit(base, {"docs": ["data/b.parquet"]}, expect_version=1)
    assert Mf.vacuum(base, keep_last=2, min_age_s=0) == 0  # v1's file still protected
    assert os.path.exists(os.path.join(base, "data/a.parquet"))


def test_discard_removes_staged_files(base):
    rel = _touch(base, "data/x.parquet")
    Mf.discard(base, [rel])
    assert not os.path.exists(os.path.join(base, rel))
    Mf.discard(base, [rel])  # idempotent


def test_vacuum_min_age_protects_in_flight_staged_files(base):
    """A writer stages files BEFORE committing; vacuum with a grace
    window must not eat them."""
    _touch(base, "data/a.parquet")
    Mf.commit(base, {"docs": ["data/a.parquet"]}, expect_version=0)
    staged = _touch(base, "data/in-flight.parquet")  # fresh, uncommitted
    assert Mf.vacuum(base, min_age_s=3600) == 0
    assert os.path.exists(os.path.join(base, staged))
    # the same file IS removable once old enough
    old = os.path.join(base, staged)
    os.utime(old, (0, 0))
    assert Mf.vacuum(base, min_age_s=3600) == 1
    assert not os.path.exists(old)


# ---------------------------------------------------------------- round 6


def test_read_retries_when_version_vacuumed_mid_read(base, monkeypatch):
    """TOCTOU (round-5 ADVICE): between current_version's listdir and
    opening v{N}.json, a commit + vacuum(keep_last=1) can delete N.
    read() must re-resolve and return the newer manifest, not raise."""
    _touch(base, "data/a.parquet")
    Mf.commit(base, {"docs": ["data/a.parquet"]}, expect_version=0)
    _touch(base, "data/b.parquet")
    Mf.commit(base, {"docs": ["data/b.parquet"]}, expect_version=1)
    # simulate the race: first resolution points at a version that a
    # concurrent vacuum already deleted
    real = Mf.current_version
    calls = {"n": 0}

    def flaky(b):
        calls["n"] += 1
        if calls["n"] == 1:
            return 99  # resolved, then vanished before open()
        return real(b)

    monkeypatch.setattr(Mf, "current_version", flaky)
    m = Mf.read(base)
    assert m["version"] == 2 and m["families"]["docs"] == ["data/b.parquet"]
    assert calls["n"] >= 2


def test_read_gives_up_after_bounded_retries(base, monkeypatch):
    monkeypatch.setattr(Mf, "current_version", lambda b: 123)
    with pytest.raises(FileNotFoundError):
        Mf.read(base)


def test_commit_survives_nfs_link_retransmit_quirk(base, monkeypatch):
    """On NFS, link(2) can report failure although the link WAS created
    (retried request hits the now-existing target). commit() must
    detect st_nlink==2 and treat it as success — raising CommitConflict
    would make the winner discard files its own manifest references."""
    _touch(base, "data/a.parquet")
    real_link = os.link

    def quirky_link(src, dst):
        real_link(src, dst)  # the link happens...
        raise OSError(5, "EIO: NFS retransmit")  # ...but the reply is lost

    monkeypatch.setattr(os, "link", quirky_link)
    v = Mf.commit(base, {"docs": ["data/a.parquet"]}, expect_version=0)
    assert v == 1
    monkeypatch.undo()
    assert Mf.read(base)["families"]["docs"] == ["data/a.parquet"]
    # and a REAL conflict still raises
    _touch(base, "data/b.parquet")
    with pytest.raises(Mf.CommitConflict):
        Mf.commit(base, {"docs": ["data/b.parquet"]}, expect_version=0)


def test_vacuum_default_min_age_protects_fresh_orphans(base):
    """round-5 ADVICE: safety is the default — a vacuum with default
    args must not eat a just-staged (fresh) uncommitted file."""
    _touch(base, "data/a.parquet")
    Mf.commit(base, {"docs": ["data/a.parquet"]}, expect_version=0)
    staged = _touch(base, "data/in-flight.parquet")
    assert Mf.vacuum(base) == 0  # defaults: min_age_s=300
    assert os.path.exists(os.path.join(base, staged))


def test_inflight_write_survives_zero_min_age_vacuum(base):
    """Commit-window tracking (round-6 item 7): a writer that
    registered via begin_write keeps its staged-but-uncommitted files
    through a concurrent vacuum even with min_age_s=0; after end_write
    the same files are ordinary vacuum-able orphans."""
    _touch(base, "data/a.parquet")
    Mf.commit(base, {"docs": ["data/a.parquet"]}, expect_version=0)
    token = Mf.begin_write(base)
    staged = _touch(base, "data/slow-writer.parquet")  # staged after start
    assert Mf.vacuum(base, min_age_s=0) == 0
    assert os.path.exists(os.path.join(base, staged))
    Mf.end_write(base, token)
    assert Mf.vacuum(base, min_age_s=0) == 1
    assert not os.path.exists(os.path.join(base, staged))


def test_inflight_lease_expires_for_crashed_writer(base, monkeypatch):
    """A writer that died without end_write must not block vacuum
    forever: markers older than the TTL are ignored and removed."""
    _touch(base, "data/a.parquet")
    Mf.commit(base, {"docs": ["data/a.parquet"]}, expect_version=0)
    token = Mf.begin_write(base)
    staged = _touch(base, "data/crashed.parquet")
    marker = os.path.join(base, "_manifest", token)
    # age the marker AND the staged file past the lease
    import json as _json

    with open(marker, "w") as f:
        _json.dump({"start": 1.0}, f)
    os.utime(os.path.join(base, staged), (0, 0))
    assert Mf.vacuum(base, min_age_s=0) == 1
    assert not os.path.exists(marker)


def test_write_intent_context_manager(base):
    with Mf.write_intent(base):
        assert Mf._oldest_inflight_start(base) is not None
    assert Mf._oldest_inflight_start(base) is None


def test_adopt_migrates_pre_manifest_files(base):
    """round-5 ADVICE: a store directory written before the manifest
    log existed must not silently read as empty — adopt() commits the
    orphans, and it is idempotent."""
    a = _touch(base, "corpus/fp_bucket=1/a.parquet")
    b = _touch(base, "corpus/fp_bucket=2/b.parquet")
    c = _touch(base, "bands/c.parquet")
    assert Mf.read(base)["version"] == 0
    n = Mf.adopt(base, {"docs": "corpus", "bands": "bands"})
    assert n == 3
    m = Mf.read(base)
    assert m["version"] == 1
    assert sorted(m["families"]["docs"]) == sorted([a, b])
    assert m["families"]["bands"] == [c]
    # idempotent: nothing new to adopt, no new version
    assert Mf.adopt(base, {"docs": "corpus", "bands": "bands"}) == 0
    assert Mf.read(base)["version"] == 1
    # files arriving out-of-band later can be adopted incrementally
    d = _touch(base, "corpus/fp_bucket=3/d.parquet")
    assert Mf.adopt(base, {"docs": "corpus"}) == 1
    assert d in Mf.read(base)["families"]["docs"]


def test_require_migrated_is_the_one_pre_manifest_guard(base):
    """A version-0 store is empty; unlisted data files under it raise,
    naming the store's migrate call — except while a registered
    writer is in flight (its staged files are not pre-manifest data).
    Past version 0, or after adopt, the guard is silent."""
    Mf.require_migrated(base, ["corpus"], "corpus_store.migrate")  # empty
    _touch(base, "corpus/fp_bucket=1/a.parquet")
    with pytest.raises(RuntimeError, match=r"corpus_store\.migrate\(base\)"):
        Mf.require_migrated(base, ["corpus"], "corpus_store.migrate")
    Mf.require_migrated(base, ["bands"], "corpus_store.migrate")  # other dir
    Mf.require_migrated(base, ["corpus"], "corpus_store.migrate", version=3)
    with Mf.write_intent(base):
        Mf.require_migrated(base, ["corpus"], "corpus_store.migrate")
    assert Mf.adopt(base, {"docs": "corpus"}) == 1
    Mf.require_migrated(base, ["corpus"], "corpus_store.migrate")


def test_file_stats_skips_unreadable_and_propagates_unexpected(base, monkeypatch):
    """An unreadable footer (OSError / ArrowInvalid) gets no stats
    entry, so pruning keeps the file; any other error propagates."""
    import pyarrow.parquet as papq

    good = _parquet(base, "data/good.parquet", [1, 2])
    with open(os.path.join(base, "data/trunc.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x01")
    stats = Mf.file_stats(base, [good, "data/trunc.parquet"], ["doc_id"])
    assert stats == {good: {"doc_id": [1, 2]}}

    def boom(*_a, **_kw):
        raise RuntimeError("boom")

    monkeypatch.setattr(papq, "ParquetFile", boom)
    with pytest.raises(RuntimeError, match="boom"):
        Mf.file_stats(base, [good], ["doc_id"])


def _parquet(base, rel, ids):
    """Write a tiny real parquet file (footer stats included)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(base, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), p)
    return rel


def test_file_stats_from_footers_and_carry_forward(base):
    """Zone maps (round 6): commit records per-file [min,max] lifted
    from the parquet footer, carries them across versions, and drops
    them the moment the file stops being listed."""
    a = _parquet(base, "data/a.parquet", [10, 11, 42])
    b = _parquet(base, "data/b.parquet", [100, 200])
    stats = Mf.file_stats(base, [a, b], ["doc_id", "missing_col"])
    assert stats[a]["doc_id"] == [10, 42]
    assert stats[b]["doc_id"] == [100, 200]
    assert "missing_col" not in stats[a]

    Mf.commit(base, {"docs": [a]}, expect_version=0, stats={a: stats[a]})
    # second commit adds b without restating a's stats: carried forward
    Mf.commit(base, {"docs": [a, b]}, expect_version=1, stats={b: stats[b]})
    m = Mf.read(base)
    assert m["stats"][a]["doc_id"] == [10, 42]
    assert m["stats"][b]["doc_id"] == [100, 200]
    # delisting a drops its stats — the zone map can't outlive the file
    Mf.commit(base, {"docs": [b]}, expect_version=2)
    m = Mf.read(base)
    assert a not in m["stats"] and b in m["stats"]


def test_prune_by_stats_skips_nonmatching_keeps_statless(base):
    a = _parquet(base, "data/a.parquet", [0, 9])
    b = _parquet(base, "data/b.parquet", [10, 19])
    c = _parquet(base, "data/c.parquet", [20, 29])
    legacy = _touch(base, "data/legacy.parquet")  # no stats recorded
    stats = Mf.file_stats(base, [a, b, c], ["doc_id"])
    Mf.commit(base, {"docs": [a, b, c, legacy]}, expect_version=0, stats=stats)
    m = Mf.read(base)
    # point lookup: only the covering file + the conservative legacy one
    assert set(Mf.prune_by_stats(m, "docs", "doc_id", lo=12, hi=12)) == {b, legacy}
    # range spanning two zones
    assert set(Mf.prune_by_stats(m, "docs", "doc_id", lo=5, hi=15)) == {a, b, legacy}
    # open-ended bounds
    assert set(Mf.prune_by_stats(m, "docs", "doc_id", lo=20)) == {c, legacy}
    assert set(Mf.prune_by_stats(m, "docs", "doc_id", hi=9)) == {a, legacy}
    # composes with a pre-filtered rels list (bucket pruning upstream)
    assert Mf.prune_by_stats(m, "docs", "doc_id", lo=12, hi=12, rels=[a, b]) == [b]


def test_read_at_time_travel_and_added_files(base):
    a = _touch(base, "data/a.parquet")
    b = _touch(base, "data/b.parquet")
    c = _touch(base, "data/c.parquet")
    Mf.commit(base, {"docs": [a]}, expect_version=0, meta={"kind": "ingest"})
    Mf.commit(base, {"docs": [a, b]}, expect_version=1, meta={"kind": "ingest"})
    # a rewrite commit: c replaces a+b (compaction shape)
    Mf.commit(base, {"docs": [c]}, expect_version=2,
              meta={"kind": "compact", "data_change": False})
    assert Mf.versions(base) == [1, 2, 3]
    assert Mf.read_at(base, 1)["families"]["docs"] == [a]
    assert Mf.read_at(base, 0)["families"] == {}

    diffs = Mf.added_files(base, "docs", since_version=0)
    assert [d["version"] for d in diffs] == [1, 2, 3]
    assert diffs[0]["added"] == {"docs": [a]}
    assert diffs[1]["added"] == {"docs": [b]}
    assert diffs[2]["added"] == {"docs": [c]}
    assert diffs[2]["meta"]["data_change"] is False
    # bounded range
    part = Mf.added_files(base, "docs", since_version=1, until_version=2)
    assert len(part) == 1 and part[0]["added"] == {"docs": [b]}
    assert Mf.added_files(base, "docs", since_version=3) == []


def test_added_files_raises_loudly_after_vacuum_retires_range(base):
    """CDC retention: a consumer checkpointed BEFORE the oldest
    retained manifest must get the loud retention error (resync from a
    snapshot), never a silently truncated change list — the diff
    baseline itself (`since_version`'s manifest) must still exist."""
    a = _touch(base, "data/a.parquet")
    b = _touch(base, "data/b.parquet")
    c = _touch(base, "data/c.parquet")
    Mf.commit(base, {"docs": [a]}, expect_version=0)
    Mf.commit(base, {"docs": [a, b]}, expect_version=1)
    Mf.commit(base, {"docs": [a, b, c]}, expect_version=2)
    Mf.vacuum(base, keep_last=2, min_age_s=0)  # retires v1
    with pytest.raises(FileNotFoundError, match="keep_last"):
        Mf.added_files(base, "docs", since_version=0)
    with pytest.raises(FileNotFoundError, match="keep_last"):
        Mf.added_files(base, "docs", since_version=1)  # baseline gone too
    # the still-retained tail works
    assert Mf.added_files(base, "docs", since_version=2)[0]["added"] == {
        "docs": [c]
    }
