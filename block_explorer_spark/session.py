"""SparkSession construction with scale-aware defaults.

The reference achieves parallelism with fixed worker pools (200 loader
workers, 100 backfill retrievers — configuration/configuration.go:50-126).
In Spark, parallelism is task-level; what we tune instead is shuffle
partitioning, AQE, and broadcast thresholds so the same plans hold from
local[32] test runs up to a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen to keep identical logical plans efficient both at
#: local test scale and at cluster scale:
#:  - AQE on: runtime coalescing of shuffle partitions, skew-join
#:    splitting, and dynamic broadcast-join demotion/promotion mean we
#:    do not hand-tune per-SF partition counts.
#:  - Arrow on: every pandas UDF / applyInPandas crosses the JVM<->Python
#:    boundary in columnar batches instead of pickled rows.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the final shuffle of a CACHED plan too. Spark
    # keeps a cached plan's output partitioning fixed by default, so
    # every .cache()d shuffle (the ingest chain sort, the upsert's
    # dropDuplicates prep) ran at the full spark.sql.shuffle.partitions
    # width: a 6.5 MB catch-up sort as 32 Python tasks instead of ~one
    # per core. Nothing in the engine relies on a cached frame keeping
    # a particular partition count.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # JVM->python Arrow batches bounded by BYTES, not just the 10k-row
    # default: with binary media columns a row-count bound lets a few
    # large blobs put the whole batch (and its decode blowup) in one
    # python worker's memory (round-9 sf1 q99/q100 OOM class). 64 MB
    # matches the multimodal operators' per-chunk decode budget;
    # narrow-row workloads still hit the 10k-row bound first, so this
    # costs them nothing.
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # The driver's events table stores TIMESTAMP(NANOS) which Spark's
    # vectorized parquet reader rejects; read as long (ns since epoch)
    # and convert at the column level where needed.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
}

#: JVM heap for local mode. 8g suits test/gate scale; the scale
#: harness exports 48g (SCALE.md round 4: the executor-fleet-
#: equivalent sizing for corpus-wide shuffles — 1.5 GB/core on 32
#: threads; at 8g the x1000 sorts thrash into hundreds of GB of
#: spill). Read LAZILY in builder(), not at import, so harnesses can
#: set the env after importing the package but before the JVM starts.
_DRIVER_MEM_ENV = "SPARK_GRAFT_DRIVER_MEM"


#: Shuffle sizing is DATA-SCALE dependent, and the right knob is AQE's
#: pre-coalesce width, not spark.sql.shuffle.partitions: start wide,
#: let AQE coalesce down by target size. At gate/bench scale (sf0.1)
#: starting at 256 costs every map task 8x the shuffle buckets for
#: nothing (measured +25% on the bench headline), while at the x1000
#: corpus it cuts q25/q83 wall 20-32% by not forcing 1/32 of a
#: corpus-wide shuffle through one task's memory (SCALE_CURVE.json).
#: So the default stays 32-wide and scale runs opt in:
#:   SPARK_GRAFT_WIDE_SHUFFLE=256 python scripts/scale_curve.py ...
#: (scripts/scale_curve.py sets it for itself). On a real cluster this
#: is cluster-level config — initialPartitionNum ~ 2-3x total cores.
_WIDE_SHUFFLE_ENV = "SPARK_GRAFT_WIDE_SHUFFLE"

#: Shuffle/spill compression codec (spark.io.compression.codec).
#: Unset keeps Spark's default (lz4) so the driver's bench conditions
#: stay comparable round-over-round. Production/scale recommendation:
#: zstd — measured on the q25 x1000 leg (OPTIMIZATION_r12.md §7):
#: wall 900→740 s (−18%), shuffle write −17%, disk spill −30%
#: (10.2→7.1 GB). The heavy dedup legs are shuffle/spill-byte bound,
#: exactly the regime guide §2.3 says zstd pays off in; tiny local
#: shuffles are indifferent. Scale runs opt in:
#:   SPARK_GRAFT_IO_CODEC=zstd python scripts/scale_curve.py ...
_IO_CODEC_ENV = "SPARK_GRAFT_IO_CODEC"


def builder(app_name: str = "block-explorer-spark", **overrides: str) -> SparkSession.Builder:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    b = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_BASE_CONF)
    conf["spark.driver.memory"] = os.environ.get(_DRIVER_MEM_ENV, "8g")
    wide = os.environ.get(_WIDE_SHUFFLE_ENV)
    if wide:
        conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = wide
    codec = os.environ.get(_IO_CODEC_ENV)
    if codec:
        conf["spark.io.compression.codec"] = codec
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        b = b.config(k, v)
    return b


#: Reliable-checkpoint directory for iterative operators (graph.py).
#: Unset (the local/test default) the iterative ops cut lineage with
#: localCheckpoint — fastest, but blocks die with their executor. On
#: a real cluster set this to a job-scoped HDFS/S3 path: one lost
#: executor during an hour-long connected-components/PageRank run
#: otherwise kills the job mid-iteration (the lineage that fault
#: recovery would replay from was deliberately cut).
_CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def get_spark(app_name: str = "block-explorer-spark", **overrides: str) -> SparkSession:
    """Return (or create) a session with the engine's tuned defaults."""
    spark = builder(app_name, **overrides).getOrCreate()
    ckpt = os.environ.get(_CHECKPOINT_DIR_ENV)
    if ckpt and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark
