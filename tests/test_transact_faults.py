"""An in-process failure between a writer's staging and its commit, for
each of the four manifested stores (relational, corpus, vector,
postings index). Every writer commits through `manifest.transact`, so
an exception before the compare-and-swap discards the attempt's staged
files by name.

The writer is interrupted by an error from `Mf.file_stats`, which runs
after the attempt has staged and before the CAS. Then:

- the live tables equal the state before the failure;
- no unlisted file sits under the store's data directories;
- the store's migrate (`Mf.adopt`) adopts 0 files — an abandoned
  staging would otherwise come back as data beside the files it was
  meant to replace;
- a retry commits exactly once and lands what an uninterrupted run
  lands.

A process that dies between staging and the CAS is not covered: its
files stay unlisted until vacuum, and `adopt` cannot tell them from
pre-manifest data.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from block_explorer_spark import schemas
from block_explorer_spark.operators import retrieval as R
from block_explorer_spark.sources import corpus_store as cs
from block_explorer_spark.sources import manifest as Mf
from block_explorer_spark.sources import parquet as pq
from block_explorer_spark.sources import vector_store as vs


def _records(pulse: int, n: int) -> list[dict]:
    return [
        {
            "reference": (pulse * 1_000 + i).to_bytes(8, "big"),
            "type": "state",
            "object_reference": (pulse * 10 + i % 3).to_bytes(8, "big"),
            "prototype_reference": b"proto",
            "payload": b"p",
            "prev_record_reference": None,
            "hash": b"h",
            "raw_data": b"r",
            "jet_id": "0",
            "pulse_number": pulse,
            "order": i + 1,
            "timestamp": 1_600_000_000,
        }
        for i in range(n)
    ]


class Relational:
    dirs = ["pulses", "jet_drops", "records", pq.OBJIDX]

    def setup(self, spark, base):
        rows = _records(1500, 5) + _records(2600, 5)
        pq.upsert(spark, base, "records", spark.createDataFrame(rows, schemas.RECORDS))

    def write(self, spark, base):
        return pq.delete_where(spark, base, "records", F.col("order") <= 2)

    def tables(self, spark, base):
        return sorted(tuple(r) for r in pq.read_table(spark, base, "records").collect())

    def adopt(self, base):
        return pq.migrate(base)


class Corpus:
    dirs = ["corpus", "bands", "whashes", "cdc"]

    def setup(self, spark, base):
        text = " ".join(f"tok{i}" for i in range(30))
        rows = [(i, f"{text} unique{i}", "en", "web") for i in range(8)]
        cs.ingest(spark, base, spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"]))

    def write(self, spark, base):
        return cs.delete_where(spark, base, F.col("doc_id") % 2 == 0)

    def tables(self, spark, base):
        return sorted(tuple(r) for r in cs.read_corpus(spark, base).collect())

    def adopt(self, base):
        return cs.migrate(base)


class Vector:
    dirs = ["vectors", vs.VEC_CDC, "pq_codes"]

    def setup(self, spark, base):
        rng = random.Random(3)
        rows = []
        for lab, center in enumerate(([1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0])):
            for i in range(10):
                vec = [c + rng.gauss(0, 0.05) for c in center]
                rows.append((100 * lab + i, vec, lab))
        vs.create(spark, base, spark.createDataFrame(rows, vs.VECTORS_SCHEMA), n_centroids=3, seed=1)

    def write(self, spark, base):
        return vs.delete_ids(spark, base, [0, 101, 202, 999])

    def tables(self, spark, base):
        return sorted(
            (r["vec_id"], tuple(r["embedding"]))
            for r in vs.read_vectors(spark, base).collect()
        )

    def adopt(self, base):
        return vs.migrate(base)


class Postings:
    dirs = ["postings", "doclen", R.TERMMAX]

    @staticmethod
    def _docs(spark, lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("w"), (F.col("id") % 7).cast("string"), F.lit(" common")
            ).alias("text"),
        )

    def setup(self, spark, base):
        R.write_postings_index(self._docs(spark, 0, 40), base, num_files=2)

    def write(self, spark, base):
        return R.index_append(self._docs(spark, 40, 60), base, num_files=1)

    def tables(self, spark, base):
        hits = R.bm25_search_indexed(spark, base, ["w3", "common"], topk=100)
        return Mf.read(base)["meta"]["bm25"]["n"], [tuple(r) for r in hits.collect()]

    def adopt(self, base):
        return Mf.adopt(base, {d: d for d in self.dirs})


@pytest.mark.parametrize("store", [Relational(), Corpus(), Vector(), Postings()],
                         ids=lambda s: type(s).__name__.lower())
def test_error_before_cas_discards_the_attempt(spark, tmp_path, monkeypatch, store):
    clean = str(tmp_path / "clean")
    store.setup(spark, clean)
    store.write(spark, clean)
    want = store.tables(spark, clean)

    base = str(tmp_path / "faulted")
    store.setup(spark, base)
    before = store.tables(spark, base)
    v0 = Mf.current_version(base)

    def boom(*_a, **_kw):
        raise RuntimeError("injected")

    with monkeypatch.context() as m:
        m.setattr(Mf, "file_stats", boom)
        with pytest.raises(RuntimeError, match="injected"):
            store.write(spark, base)

    assert Mf.current_version(base) == v0
    assert store.tables(spark, base) == before
    assert Mf.unmanifested_files(base, store.dirs) == {}
    assert store.adopt(base) == 0
    assert store.tables(spark, base) == before

    store.write(spark, base)
    assert Mf.current_version(base) == v0 + 1
    assert store.tables(spark, base) == want
