"""block_explorer_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the
insolar/block-explorer reference (Go + PostgreSQL) as an idiomatic
Spark engine: DataFrame/SQL logical plans optimized by Catalyst,
partitioned Parquet storage, Structured Streaming ingest, plus the
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal columns) that a 100 TB pipeline needs.

Layout:
  session    — tuned SparkSession builders (AQE, shuffle partitions)
  schemas    — explicit StructTypes for every table
  functions/ — scalar/column function library (jets, refs, text, vectors)
  operators/ — composable DataFrame -> DataFrame operators
  plans/     — the reference's 11-endpoint query surface
  sources/   — readers, writers (upsert protocol), fixture generators
  streaming/ — Structured Streaming ingest + control plane
"""

__version__ = "0.1.0"

from block_explorer_spark.session import get_spark  # noqa: F401
