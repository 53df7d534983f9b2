"""Commit-ordered last-write-wins dedup (BASELINE.json:6).

``lww_latest`` is row_number() over (key ORDER BY seq DESC, part_id
DESC) == 1.  Sort-based — one shuffle by key, rows stream through the
sort with no per-key buffering.  Measured to scale cleanly with cores
on wide rows (KB contents): at 32 threads a max_by hash aggregation
was 2.5x slower because every partial-agg buffer holds a full row
struct (allocation/GC churn grows with thread count).

``lww_latest_firstvalue`` is SURVEY §2.5's first_value form, kept as
an independent equivalence witness, not used on any hot path.

Tie handling: within a batch the dedup key (part_id, seq) is unique,
so ordering by (seq DESC, part_id DESC) is a total order — both forms
are deterministic for any delivery order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order(df: DataFrame, order_col: str):
    order = [F.desc(order_col)]
    if "part_id" in df.columns and order_col != "part_id":
        order.append(F.desc("part_id"))  # (seq, part_id) is unique -> total order
    return order


def lww_latest(df: DataFrame, keys: list[str], order_col: str = "seq") -> DataFrame:
    """Keep the winning (highest-``order_col``) row per key."""
    w = Window.partitionBy(*keys).orderBy(*_order(df, order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_latest_firstvalue(
    df: DataFrame, keys: list[str], order_col: str = "seq"
) -> DataFrame:
    """first_value form of LWW (SURVEY §2.5): every column replaced by the
    first value over the key window ordered seq DESC (unbounded frame),
    then one dedup per key.

    Strictly more work than the row_number form in Spark (the dedup adds
    a second shuffle), so it is NOT used on the hot path — it exists for
    engines/plans where a filterable rank is costlier than first_value,
    and as the equivalence witness for ``lww_latest``.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*_order(df, order_col))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    others = [c for c in df.columns if c not in keys]
    out = df.select(
        *keys, *[F.first(c, ignorenulls=False).over(w).alias(c) for c in others]
    )
    return out.dropDuplicates(keys)
