"""Shared helpers for query plans."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.tables import read_table, table_path


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one canonical table lazily (column pruning / predicate pushdown
    flow from the final plan, so no eager projection here)."""
    if name == "events":
        return _read_events(spark, sf_dir)
    return read_table(spark, sf_dir, name)


def revenue_sum() -> Column:
    """``ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)`` as an exact
    sum: each row is cast to DECIMAL(18,4) before SUM, so the rounded cent
    does not depend on the order rows are added in (the scan's task split,
    a join's row order). Oracles spell the same casts in SQL."""
    line = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return F.round(F.sum(line.cast("decimal(18,4)")), 2).cast("double")


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical events.parquet generations stored INT64 TIMESTAMP(NANOS),
    which Spark 4 rejects by default; current generations store naive
    TIMESTAMP(MICROS), normalized by ``read_table``. Keep the nanos branch
    so the engine reads either generation (:func:`allow_nanos`,
    :func:`micros_ts`)."""
    allow_nanos(spark, table_path(sf_dir, "events"))
    return micros_ts(read_table(spark, sf_dir, "events"))


def allow_nanos(spark: SparkSession, path: str) -> None:
    """Let ``spark`` read the parquet file at ``path`` when its footer
    stores a nanosecond timestamp: such a column then reads as a long.
    The session-wide conf is set only then; a file of any other
    generation leaves the caller's session as it was."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    schema = ds.dataset(path, format="parquet").schema  # a file or a directory
    if any(pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in schema):
        spark.conf.set(NANOS_AS_LONG, "true")


def micros_ts(df: DataFrame) -> DataFrame:
    """``df`` with a nanos ``ts`` read as long (:func:`allow_nanos`)
    converted to a microsecond timestamp by integer division (`div`, not
    `/`: double division loses precision at 1e18 ns), matching DuckDB's
    nanos→micros truncation; any other ``df`` unchanged."""
    if dict(df.dtypes).get("ts") == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
