from __future__ import annotations

from block_explorer_spark.operators import pagination as Pg
from block_explorer_spark.operators import windows as W


def test_paginate_limit_offset(spark):
    df = spark.range(0, 50).withColumnRenamed("id", "k")
    page = Pg.paginate(df, [("k", True)], limit=10, offset=0).collect()
    assert [r.k for r in page] == list(range(10))
    page2 = Pg.paginate(df, [("k", True)], limit=10, offset=10).collect()
    assert [r.k for r in page2] == list(range(10, 20))
    desc = Pg.paginate(df, [("k", False)], limit=3, offset=2).collect()
    assert [r.k for r in desc] == [47, 46, 45]


def test_paginate_with_total(spark):
    df = spark.range(0, 25).withColumnRenamed("id", "k")
    page, total = Pg.paginate_with_total(df, [("k", True)], limit=7, offset=21)
    assert total == 25
    assert [r.k for r in page.collect()] == [21, 22, 23, 24]


def test_chain_repair_bucketed_matches_global(spark):
    """The full-table bucketed adjacency (two-level boundary exchange)
    is row-identical to the one-window formulation — keys chosen to
    straddle bucket boundaries, leave empty buckets, and put single
    rows alone in a bucket (bucket_width=10: buckets 0,1,3,4 with
    bucket 2 empty and bucket 3 a singleton)."""
    from pyspark.sql import Window

    rows = []
    # chain 5,6,7 intact; 8 missing; adjacency 19->33 crosses the
    # empty bucket 2; bucket 3 is a singleton patched on both sides
    links = [5, 6, 7, 9, 15, 19, 33, 40, 41, 47]
    for k in links:
        rows.append((k, k - 1, k + 1))
    df = spark.createDataFrame(rows, ["pulse_number", "prev_pulse_number", "next_pulse_number"])
    got = {
        r.pulse_number: (r.prev_pulse_number, r.next_pulse_number)
        for r in W.chain_repair(df, bucket_width=10).collect()
    }
    want = {
        r.pulse_number: (r.prev_pulse_number, r.next_pulse_number)
        for r in W.chain_repair(df, window=Window.orderBy("pulse_number")).collect()
    }
    assert got == want
    assert got[5] == (-1, 6) and got[6] == (5, 7)  # intact interior chain
    assert got[9] == (-1, -1)  # 8 missing both sides
    assert got[19] == (-1, -1) and got[33] == (-1, -1)  # broken across buckets


def test_chain_repair_sentinels(spark):
    # pulses 10,20,40 (30 missing): 20.next->30 unsaved => -1; 40.prev->30 => -1
    rows = [
        (10, 0, 20),
        (20, 10, 30),
        (40, 30, 50),
    ]
    df = spark.createDataFrame(rows, ["pulse_number", "prev_pulse_number", "next_pulse_number"])
    got = {r.pulse_number: r for r in W.chain_repair(df).collect()}
    assert got[10].prev_pulse_number == -1  # no saved predecessor
    assert got[10].next_pulse_number == 20
    assert got[20].prev_pulse_number == 10
    assert got[20].next_pulse_number == -1  # 40 != stored link 30
    assert got[40].prev_pulse_number == -1
    assert got[40].next_pulse_number == -1  # last row


def test_chain_repair_adaptive_gate(spark, tmp_path):
    """Full-table repair is adaptive: a small file-backed input takes
    the single global-window plan (no join, one Window); a large
    input keeps the bucketed two-level plan (partitioned data window,
    join, global window only over bucket aggregates); an EXPLICIT
    bucket_width pins the bucketed plan regardless of size."""
    from pyspark.sql import functions as F

    def windows_of(df):
        qe = df._jdf.queryExecution().optimizedPlan()
        part, glob, joins = 0, 0, 0

        def walk(nd):
            nonlocal part, glob, joins
            name = nd.getClass().getSimpleName()
            if name == "Window":
                if nd.partitionSpec().isEmpty():
                    glob += 1
                else:
                    part += 1
            if name == "Join":
                joins += 1
            for i in range(nd.children().length()):
                walk(nd.children().apply(i))

        walk(qe)
        return part, glob, joins

    src = str(tmp_path / "small")
    spark.createDataFrame(
        [(k, k - 1, k + 1) for k in (5, 6, 9)],
        ["pulse_number", "prev_pulse_number", "next_pulse_number"],
    ).write.parquet(src)
    small = spark.read.parquet(src)
    part, glob, joins = windows_of(W.chain_repair(small))
    assert (part, glob, joins) == (0, 1, 0), "small input must take the global-window plan"

    big = spark.range(6_000_000).select(
        F.col("id").alias("pulse_number"),
        (F.col("id") - 1).alias("prev_pulse_number"),
        (F.col("id") + 1).alias("next_pulse_number"),
    )
    part, glob, joins = windows_of(W.chain_repair(big))
    assert part >= 1 and joins >= 1, "large input must keep the bucketed plan"
    part, glob, joins = windows_of(W.chain_repair(small, bucket_width=10))
    assert part >= 1 and joins >= 1, "explicit bucket_width must pin the bucketed plan"
    # and both formulations agree on the small data either way
    got_bucketed = {
        r.pulse_number: (r.prev_pulse_number, r.next_pulse_number)
        for r in W.chain_repair(small, bucket_width=10).collect()
    }
    got_global = {
        r.pulse_number: (r.prev_pulse_number, r.next_pulse_number)
        for r in W.chain_repair(small).collect()
    }
    assert got_bucketed == got_global == {5: (-1, 6), 6: (5, -1), 9: (-1, -1)}
