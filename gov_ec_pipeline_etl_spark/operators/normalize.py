"""Row/column normalization (SURVEY.md §2.3 P1/P5, §2.4 F1-F4).

Reference semantics (etl/transform.py:53-74, 142-152): normalize column
names, replace declared NA tokens with null across all columns, strip
whitespace on string columns, optionally drop all-null rows/columns.

All-column operations are expressed as per-column expressions in ONE
``select`` — a single projection node for Catalyst, fully codegen'd, no
per-column plan bloat.
"""

from __future__ import annotations

import operator
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, FloatType, StringType

from gov_ec_pipeline_etl_spark.functions.text import norm_colname_py

DEFAULT_NA_TOKENS = ["", "NA", "N/A", "null", "None", "NaN", "nan", "NULL", "-"]


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Canonical snake_case ASCII names; collision-safe via suffixing.
    The suffix loops until the candidate is genuinely unused: a naive
    one-shot suffix turns ['a','a','a_1'] into ['a','a_1','a_1']."""
    counters: dict[str, int] = {}
    assigned: set[str] = set()
    names = []
    for c in df.columns:
        base = norm_colname_py(c) or "col"
        n = base
        while n in assigned:
            counters[base] = counters.get(base, 0) + 1
            n = f"{base}_{counters[base]}"
        assigned.add(n)
        names.append(n)
    return df.toDF(*names)


def _string_cols(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]


def trim_strings(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    cols = set(columns if columns is not None else _string_cols(df))
    return df.select(
        *[F.trim(F.col(c)).alias(c) if c in cols else F.col(c) for c in df.columns]
    )


def replace_na_tokens(
    df: DataFrame,
    tokens: list[str] | None = None,
    columns: list[str] | None = None,
    trim_first: bool = True,
) -> DataFrame:
    """Declared NA tokens → null on string columns (token match applies to
    the trimmed value, mirroring the reference's strip-then-replace order).
    """
    tokens = DEFAULT_NA_TOKENS if tokens is None else tokens
    cols = set(columns if columns is not None else _string_cols(df))

    def clean(c: str):
        v = F.trim(F.col(c)) if trim_first else F.col(c)
        return F.when(v.isin(tokens), F.lit(None)).otherwise(v).alias(c)

    return df.select(
        *[clean(c) if c in cols else F.col(c) for c in df.columns]
    )


def drop_all_null_rows(df: DataFrame) -> DataFrame:
    """Drop rows whose every value is null, as ``df.na.drop(how="all")``
    does (a float or double NaN counts as null), with one filter: an OR
    of per-column presence tests. ``na.drop`` plans an
    ``AtLeastNNonNulls`` over all columns, which constraint inference
    grows without bound: at 20 or more raw columns the contract load
    gave no result within 60–90 s."""
    present = [
        F.col(f.name).isNotNull() & ~F.isnan(f.name)
        if isinstance(f.dataType, (FloatType, DoubleType))
        else F.col(f.name).isNotNull()
        for f in df.schema.fields
    ]
    return df.where(reduce(operator.or_, present)) if present else df


def drop_all_null_columns(df: DataFrame) -> DataFrame:
    """One aggregate pass decides; driver drops. (Reference F4 — off by
    default in its config, provided for completeness.)"""
    counts = df.agg(
        *[F.count(F.col(c)).alias(c) for c in df.columns]
    ).first()
    empty = [c for c in df.columns if counts[c] == 0]
    return df.drop(*empty) if empty else df
