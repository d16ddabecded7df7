"""Canonical test-table loaders.

The driver's synthetic star schema (TESTDATA.md): TPC-H-ish tables plus an
``events`` stream table and LLM-pipeline tables ``documents`` /
``embeddings``. One parquet file per table per scale factor.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTER metadata — no Spark job, no scan.

    Plan-construction-time sizing decisions (e.g. the LSH strategy pick
    in s02) must not trigger cluster actions: registry enumeration or
    plan-shape inspection would otherwise run a full count per call.
    Footer reads are O(files), the same metadata any catalog holds."""
    return parquet_rows(table_path(sf_dir, name))


def parquet_rows(path: str) -> int:
    """Row count of a parquet file, or of every ``.parquet`` file under a
    directory, from footer metadata alone."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
            for root, _dirs, files in os.walk(path)
            for fn in files
            if fn.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


# Resolved schema per (absolute path, mtime_ns, size). Schema inference
# costs a footer read + analysis round trip per spark.read (~72 ms warm
# vs ~12 ms with an explicit schema, measured r10); a query touching
# four tables paid ~0.25 s of pure metadata before its first job. This
# is metadata memoization — the same class of caching Spark's own
# session-level FileStatusCache does — never result caching: every read
# still scans the parquet data. The stat stamp in the key invalidates
# the entry when a table is REWRITTEN at the same path with a different
# schema (ADVICE r10: the bare-path key silently applied the stale
# schema — missing columns became nulls instead of erroring); a rewrite
# always changes mtime_ns, and stale entries for dead stamps are
# harmless (the dict is bounded by distinct table files per process).
_SCHEMA_CACHE: dict[tuple[str, int, int], "object"] = {}


def _schema_key(path: str) -> tuple[str, int, int]:
    st = os.stat(path)
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


def clear_schema_cache() -> None:
    """Drop every memoized schema (tests that regenerate data in place)."""
    _SCHEMA_CACHE.clear()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one canonical parquet table with deterministic timestamp
    semantics.

    The driver's parquet stores naive wall-clock timestamps
    (``isAdjustedToUTC=false``), which Spark 4 infers as TIMESTAMP_NTZ by
    default while DuckDB reads them as plain naive TIMESTAMP. The engine's
    contract (SURVEY.md §1.2) is naive-wall-clock-as-UTC TIMESTAMP, so:

    - pin the session timezone to UTC (rendering and epoch extraction
      match DuckDB's naive reading even under a non-UTC driver session);
    - disable NTZ inference so the scan yields TimestampType directly —
      a post-scan cast would block parquet filter pushdown on those
      columns, this keeps it scan-side;
    - defensively cast any remaining NTZ field (schemas captured before
      the conf was set, e.g. cached plans) to TimestampType.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = table_path(sf_dir, name)
    key = _schema_key(path)
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        # NTZ normalization already folded into the cached schema (the
        # conf above makes inference yield TimestampType, so the cast
        # branch below is a no-op by the time a schema is cached).
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    _SCHEMA_CACHE[key] = df.schema
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the named tables (default: all) as DataFrames.

    Schema comes from parquet footers (normalized to TIMESTAMP semantics
    by :func:`read_table`), and Catalyst handles column pruning + predicate
    pushdown from the lazy plan, so there is nothing to pre-filter here.
    """
    return {n: read_table(spark, sf_dir, n) for n in names or TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the ``spark.sql`` surface."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
