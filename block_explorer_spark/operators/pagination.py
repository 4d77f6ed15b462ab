"""Sort + limit/offset + pagination totals (SURVEY §2.5 W1/W3, §2.6, §2.4 A1).

Every list endpoint in the reference returns (page, total): a LIMIT/
OFFSET page plus a second COUNT(*) pass over the same filters
(etl/storage/storage.go:220-255). Semantics preserved here; physical
strategy differs:

  * limit without offset → .orderBy().limit(n): Spark plans
    TakeOrderedAndProject — a per-partition top-k + driver merge, no
    global sort shuffle. This is the scale path (cursor pagination).
  * offset > 0 → top-(offset+limit) FIRST (TakeOrderedAndProject
    again), then row_number() over that bounded slice. The global
    window never sees more than offset+limit rows (reference caps
    limit at 1000, api/handlers.go:678-703), so the single-partition
    sort is trivial no matter how large the filtered stream is —
    deep-offset cost grows with the offset, which is exactly what
    keyset cursors (filters.keyset_cursor) exist to avoid.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_LIMIT = 20
MAX_LIMIT = 1000


def sort_exprs(spec: Sequence[tuple[str, bool]]) -> list[Column]:
    """[(column, ascending), ...] -> orderBy expressions (W1)."""
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in spec]


def paginate(
    df: DataFrame,
    sort: Sequence[tuple[str, bool]],
    limit: int = DEFAULT_LIMIT,
    offset: int = 0,
) -> DataFrame:
    """Return the page slice of df under the given total order."""
    exprs = sort_exprs(sort)
    if offset <= 0:
        return df.orderBy(*exprs).limit(limit)
    bounded = df.orderBy(*exprs).limit(offset + limit)
    w = Window.orderBy(*exprs)
    return (
        bounded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > offset)
        .orderBy("__rn")
        .drop("__rn")
    )


def paginate_with_total(
    df: DataFrame,
    sort: Sequence[tuple[str, bool]],
    limit: int = DEFAULT_LIMIT,
    offset: int = 0,
) -> tuple[DataFrame, int]:
    """(page, total): A1's two-pass count over the pre-limit filters.

    reference: etl/storage/storage.go:229-255
    """
    return paginate(df, sort, limit, offset), df.count()


