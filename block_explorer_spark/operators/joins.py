"""Join operators (SURVEY §2.3): the J4 hash-chain join and the
anti-join.

Both are equi-joins; the hash-chain build side is a page of drops, so
it is broadcast explicitly where the optimizer can't know the side is
small and no shuffle is planned at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_chain_edges(drops: DataFrame) -> DataFrame:
    """J4: link drops whose first/second_prev_hash equals another drop's hash.

    Emits one row per (parent, child) edge with both composite ids.
    Implemented as a union of two equi-joins on binary hash columns and
    deduped by the (parent, child) id pair — exactly the reference's
    two probe maps (api/handlers.go:269-297) as a relational plan. The
    drop set in play is always a page plus two adjacent pulses, so the
    build side is broadcast.
    """
    parent = drops.select(
        F.col("jet_id").alias("parent_jet_id"),
        F.col("pulse_number").alias("parent_pulse_number"),
        F.col("hash").alias("parent_hash"),
    )
    child = drops.select(
        F.col("jet_id").alias("child_jet_id"),
        F.col("pulse_number").alias("child_pulse_number"),
        F.col("first_prev_hash"),
        F.col("second_prev_hash"),
    )
    first = F.broadcast(parent).join(
        child, on=F.col("parent_hash") == F.col("first_prev_hash"), how="inner"
    )
    second = F.broadcast(parent).join(
        child, on=F.col("parent_hash") == F.col("second_prev_hash"), how="inner"
    )
    edge_cols = [
        "parent_jet_id",
        "parent_pulse_number",
        "child_jet_id",
        "child_pulse_number",
    ]
    return first.select(edge_cols).unionByName(second.select(edge_cols)).dropDuplicates(edge_cols)


def anti_missing(left: DataFrame, right: DataFrame, on: Column | str) -> DataFrame:
    """Rows of left with no match in right (left_anti).

    The reference does absence checks row-at-a-time (e.g. updatePrevPulse,
    etl/storage/storage.go:372-379); at scale that's an anti-join.
    """
    return left.join(right, on=on, how="left_anti")
