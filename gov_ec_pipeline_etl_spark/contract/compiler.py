"""Contract → Spark pipeline compiler.

Compiles the declarative contract into ONE lazy transformation chain
(reference fixed order, etl/transform.py:432-579: normalize names →
rename → NA/trim/drop-null → coerce → derive → categories → numeric
bounds → keys → dedup → pad/drift → reorder). ``keyed`` builds the chain
up to the keys, ``finish`` the rest; neither starts a job.

``apply`` runs two actions before any sink work: the raw ``count()``
(``rows_in``, no contract step runs) and one aggregate over the keyed,
pre-dedup frame that yields every other report figure and feeds the
fail-fast gates. Contrast with the reference's execution (SURVEY.md §4):
each step there eagerly copied the whole pandas frame; here the chain is
one Catalyst plan — steps fuse into a handful of projections inside
whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import DoubleType, StringType, TimestampType

from gov_ec_pipeline_etl_spark.contract.model import Contract, TransformHardFail
from gov_ec_pipeline_etl_spark.functions.ids import (
    business_key,
    surrogate_sha256,
    surrogate_uuid5,
)
from gov_ec_pipeline_etl_spark.functions.text import norm_text_py
from gov_ec_pipeline_etl_spark.operators.category import category_expr
from gov_ec_pipeline_etl_spark.operators.dedup import (
    dedup_keep_first,
    dedup_keep_latest,
)
from gov_ec_pipeline_etl_spark.operators.normalize import (
    DEFAULT_NA_TOKENS,
    drop_all_null_rows,
    normalize_column_names,
    replace_na_tokens,
)
from gov_ec_pipeline_etl_spark.operators.numeric import bounds_expr

# Accepted datetime renderings for coercion (the reference leaned on
# pandas' permissive parser; we pin an explicit, documented format list).
DATETIME_FORMATS = [
    None,  # Spark's default ISO-ish parsing
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "dd/MM/yyyy HH:mm:ss",
    "dd/MM/yyyy",
]


def coerce_datetime(col: F.Column) -> F.Column:
    tries = [
        F.try_to_timestamp(col) if fmt is None else F.try_to_timestamp(col, F.lit(fmt))
        for fmt in DATETIME_FORMATS
    ]
    return F.coalesce(*tries)


@dataclass
class TransformResult:
    df: DataFrame
    report: dict[str, Any]


class ContractPipeline:
    def __init__(self, contract: Contract):
        self.c = contract

    # --- stages (each lazy; DataFrame in → DataFrame out) ---------------

    def normalize(self, df: DataFrame) -> DataFrame:
        c = self.c
        df = normalize_column_names(df)
        if c.rename:
            present = {k: v for k, v in c.rename.items() if k in df.columns}
            if present:
                df = df.withColumnsRenamed(present)
        df = replace_na_tokens(
            df, tokens=c.na_tokens or DEFAULT_NA_TOKENS, trim_first=c.trim_strings
        )
        if c.drop_all_null_rows:
            df = drop_all_null_rows(df)
        return df

    def coerce(self, df: DataFrame) -> DataFrame:
        """Defensive type coercion for DECLARED columns only (reference
        semantics: undeclared/extra columns pass through untouched —
        etl/transform.py coerces per declared type group)."""
        c = self.c
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        exprs = []
        for name in df.columns:
            col = F.col(name)
            if name not in c.columns:
                exprs.append(col)
                continue
            t = c.spark_type(name)
            cur = dtypes[name]
            if isinstance(t, TimestampType) and isinstance(cur, StringType):
                exprs.append(coerce_datetime(col).alias(name))
            elif isinstance(t, DoubleType) and not isinstance(cur, DoubleType):
                exprs.append(col.try_cast("double").alias(name))
            elif isinstance(t, StringType) and not isinstance(cur, StringType):
                exprs.append(col.cast("string").alias(name))
            else:
                exprs.append(col)
        return df.select(*exprs)

    def derive(self, df: DataFrame) -> DataFrame:
        for target, date_col in self.c.derive_year.items():
            if date_col not in df.columns:
                continue
            year = F.year(F.col(date_col)).cast("double")
            if target in df.columns:
                # fill only where missing (reference D4 fallback semantics)
                df = df.withColumn(target, F.coalesce(F.col(target), year))
            else:
                df = df.withColumn(target, year)
        return df

    def apply_rules(self, df: DataFrame) -> DataFrame:
        c = self.c
        exprs = []
        for name in df.columns:
            col = F.col(name)
            if name in c.categories:
                r = c.categories[name]
                col = category_expr(
                    col, r.mapping or None, r.allowed, r.coerce_to,
                    ascii_fast_path=False,
                )
            if name in c.numeric_rules:
                r = c.numeric_rules[name]
                col = bounds_expr(col, r.lo, r.hi)
            exprs.append(col.alias(name))
        return df.select(*exprs)

    def add_keys(self, df: DataFrame) -> DataFrame:
        c = self.c
        bk = business_key(df, c.key_fields)
        df = df.withColumn("business_key", bk)
        if c.surrogate_method == "uuid5":
            sid = surrogate_uuid5(F.col("business_key"), c.surrogate_namespace)
        else:
            sid = surrogate_sha256(F.col("business_key"))
        return df.withColumn("surrogate_id", sid)

    def dedup(self, df: DataFrame) -> DataFrame:
        c = self.c
        if not c.enforce_unique_key:
            return df
        if c.dedup_keep == "latest" and c.dedup_order_by in df.columns:
            if c.dedup_tiebreak:
                # a DECLARED tiebreak is an assertion, not a hint: silently
                # falling back would reinstate the engine-internal
                # nondeterminism the field exists to eliminate
                if c.dedup_tiebreak not in df.columns:
                    raise ValueError(
                        f"contract dedup.tiebreak column "
                        f"{c.dedup_tiebreak!r} is absent from the frame "
                        f"(have: {sorted(df.columns)})"
                    )
                tiebreak = c.dedup_tiebreak
            else:
                tiebreak = "__ingest_seq" if "__ingest_seq" in df.columns else None
            return dedup_keep_latest(
                df, ["business_key"], c.dedup_order_by, tiebreak
            )
        return dedup_keep_first(df, ["business_key"])

    def pad_and_reorder(self, df: DataFrame) -> tuple[DataFrame, dict]:
        c = self.c
        expected = c.expected_columns()
        present = set(df.columns)
        missing = sorted(expected - present)
        extra = sorted(present - expected - {"surrogate_id", "business_key", "__ingest_seq"})
        if c.pad_missing and missing:
            df = df.withColumns(
                {m: F.lit(None).cast(c.spark_type(m)) for m in missing}
            )
        front = ["surrogate_id", "business_key"] + [
            x for x in c.order if x in df.columns
        ]
        rest = [x for x in df.columns if x not in front and x != "__ingest_seq"]
        df = df.select(*front, *rest)
        return df, {"schema_missing": missing, "schema_extra": extra}

    def pack_extras(self, df: DataFrame, extra_cols: list[str]) -> DataFrame:
        """Non-canonical columns → one JSON column, skipping nulls per row
        (reference P7 — to_json drops null struct fields when
        ignoreNullFields is on, matching load.py:374-377 skip-null)."""
        c = self.c
        if not c.extras_column:
            return df
        if not extra_cols:
            return df.withColumn(c.extras_column, F.lit(None).cast("string"))
        packed = F.to_json(
            F.struct(*[F.col(x) for x in sorted(extra_cols)]),
            {"ignoreNullFields": "true"},
        )
        # all-null extras → '{}' from to_json; normalize to null (reference
        # emits NULL when nothing to pack)
        packed = F.when(packed == "{}", F.lit(None)).otherwise(packed)
        return df.withColumn(c.extras_column, packed).drop(*extra_cols)

    def keyed(self, df: DataFrame) -> DataFrame:
        """normalize → coerce → derive → rules → keys: the frame the
        validation aggregate reads."""
        df = self.normalize(df)
        df = self.coerce(df)
        df = self.derive(df)
        df = self.apply_rules(df)
        return self.add_keys(df)

    def finish(self, df: DataFrame) -> tuple[DataFrame, dict]:
        """dedup → pad/drift → reorder over a ``keyed`` frame."""
        return self.pad_and_reorder(self.dedup(df))

    # --- validation (one aggregate pass) --------------------------------

    def _metrics(self, keyed: DataFrame) -> dict[str, Any]:
        """Every report aggregate in one action over the ``keyed``,
        pre-dedup frame. ``__key_rn`` numbers the rows within a business
        key: rn == 1 counts the keys (the rows dedup keeps), rn == 2 the
        keys that occur twice or more."""
        c = self.c
        w = Window.partitionBy("business_key").orderBy("business_key")
        df = keyed.withColumn("__key_rn", F.row_number().over(w))
        rn = F.col("__key_rn")
        aggs: dict[str, F.Column] = {
            "rows_out": F.count(F.lit(1)),
            "distinct_keys": F.count(F.when(rn == 1, 1)),
            "duplicates_business_key": F.count(F.when(rn == 2, 1)),
        }
        for item in c.critical:
            if isinstance(item, str):
                aggs[f"critical::{item}"] = (
                    F.count(F.col(item)) if item in df.columns else F.lit(0)
                )
            elif isinstance(item, dict):
                grp = item["any_of"]
                cols = [F.count(F.col(x)) for x in grp if x in df.columns]
                aggs[f"critical_any::{'|'.join(grp)}"] = (
                    F.greatest(*cols) if len(cols) > 1 else (cols[0] if cols else F.lit(0))
                )
        for item in c.recommended:
            names = [item] if isinstance(item, str) else list(item.get("any_of", []))
            cols = [F.count(F.col(x)) for x in names if x in df.columns]
            aggs[f"recommended::{'|'.join(names)}"] = (
                F.greatest(*cols) if len(cols) > 1 else (cols[0] if cols else F.lit(0))
            )
        if not c.key_allow_nulls and c.key_fields:
            null_any = F.lit(False)
            for kf in c.key_fields:
                if kf in df.columns:
                    part = F.col(kf).isNull() | (F.col(kf).cast("string") == "")
                else:
                    part = F.lit(True)
                null_any = null_any | part
            aggs["key_null_rows"] = F.sum(F.when(null_any, 1).otherwise(0))
        return df.agg(*[v.alias(k) for k, v in aggs.items()]).first().asDict()

    # --- end-to-end ------------------------------------------------------

    def apply(self, df: DataFrame, fail_fast: bool = True) -> TransformResult:
        c = self.c
        report: dict[str, Any] = {"dataset": c.dataset}
        report["rows_in"] = df.count()

        keyed = self.keyed(df)
        df, drift = self.finish(keyed)

        # Validation metrics EVALUATE on the pre-dedup frame (reference
        # K3: quarantine/critical counts see every arriving row; dedup
        # then keeps one representative per key). The same aggregate
        # counts the keys, which is the row count after dedup:
        # keep-latest and keep-first both keep one row per key.
        metrics = self._metrics(keyed)
        before = metrics.pop("rows_out")
        keys = metrics.pop("distinct_keys")
        after = keys if c.enforce_unique_key else before
        report["duplicates_business_key"] = metrics.pop("duplicates_business_key")
        report["dedup_rows_dropped"] = before - after
        report.update(drift)

        report["rows_out"] = after
        failures: list[str] = []
        warnings: list[str] = []
        for k, v in metrics.items():
            if k.startswith(("critical::", "critical_any::")) and (v or 0) == 0:
                failures.append(k.split("::", 1)[1])
            if k.startswith("recommended::") and (v or 0) == 0:
                warnings.append(k.split("::", 1)[1])
        if (metrics.get("key_null_rows") or 0) > 0:
            failures.append(
                f"business_key_quarantined_due_to_nulls={metrics['key_null_rows']}"
            )
        if c.fail_on_missing_expected and drift["schema_missing"]:
            disallowed = [
                m for m in drift["schema_missing"] if m not in c.allowed_schema_diffs
            ]
            if disallowed:
                failures.append(f"missing_expected_columns={disallowed}")
        if c.fail_on_extra_columns and drift["schema_extra"]:
            disallowed = [
                m for m in drift["schema_extra"] if m not in c.allowed_schema_diffs
            ]
            if disallowed:
                failures.append(f"extra_columns={disallowed}")
        report["critical_failures"] = failures
        report["recommended_warnings"] = warnings

        if fail_fast and failures:
            raise TransformHardFail(
                f"{c.dataset}: critical validation failed: {failures}"
            )
        return TransformResult(df=df, report=report)


def norm_map_keys(mapping: dict[str, str]) -> dict[str, str]:
    return {norm_text_py(k): v for k, v in mapping.items()}
