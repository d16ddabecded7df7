"""Keyed deduplication (SURVEY.md §2.10 DD1-DD4).

The reference's keep-latest relied on pandas stable sort ("keep last"),
whose tie-break is an artifact of input order. Here the tie-break is an
explicit, documented total order: latest ``order_col``, then highest
``tiebreak_col`` — deterministic on any cluster, any partitioning.

Implementation is a row_number window: one shuffle on the key, no
collect, scales to arbitrary key cardinality. Skewed hot keys are
handled by AQE skew-join/partition splitting, not custom salting —
dedup windows aggregate per key, so a hot key is a genuinely serial
problem only within the final per-key scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def duplicate_key_count(df: DataFrame, key_cols: list[str]) -> int:
    """DD1: number of key values occurring more than once."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .count()
    )


def dedup_keep_latest(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """DD2: keep the latest row per key (nulls in order_col lose)."""
    order = [F.col(order_col).desc_nulls_last()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_keep_first(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """DD3: arbitrary-but-one representative per key (dropDuplicates
    contract — cheapest plan, no total order promised)."""
    return df.dropDuplicates(key_cols)

