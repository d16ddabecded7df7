"""Queries exercising the reference pipeline's signature semantics
(SURVEY.md §2.5-2.10) on the driver's tables, each oracle-checked.

These are the behaviors a user of the reference relies on: deterministic
business keys + hash surrogates, keep-latest dedup, category-value
standardization with domain enforcement, numeric range rules, NA/trim
normalization, and year derivation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.functions.ids import business_key, surrogate_sha256
from gov_ec_pipeline_etl_spark.operators.category import category_expr
from gov_ec_pipeline_etl_spark.operators.dedup import dedup_keep_latest
from gov_ec_pipeline_etl_spark.operators.normalize import replace_na_tokens
from gov_ec_pipeline_etl_spark.operators.numeric import bounds_expr
from gov_ec_pipeline_etl_spark.plans.registry import register
from gov_ec_pipeline_etl_spark.plans.util import T


@register(
    "r01_business_key_sha256",
    oracle="""
        SELECT
          concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber) AS business_key,
          sha256(concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber)) AS surrogate_id
        FROM lineitem
    """,
    doc="Reference K1+K5 (etl/transform.py:356-365, 490-491): pipe-joined "
    "business key over the natural key fields, hex-sha256 surrogate. "
    "Pure builtin expressions — codegen, no shuffle, no UDF.",
    bench=True,
    tags=("ids", "reference"),
)
def r01_business_key_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    bk = business_key(li, ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"])
    return li.select(
        bk.alias("business_key"),
        surrogate_sha256(bk).alias("surrogate_id"),
    )


@register(
    "r02_dedup_keep_latest",
    oracle="""
        SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
        FROM (
          SELECT user_id, event_type, event_id, ts,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC
                 ) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    doc="Reference DD2 (etl/transform.py:499-503) with a documented total "
    "order: latest ts wins, ties broken by highest event_id (the "
    "reference's pandas keep-last tie-break was input-order-dependent; "
    "SURVEY.md §7 risk register).",
    tags=("dedup", "reference", "window"),
)
def r02_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    out = dedup_keep_latest(
        ev, ["user_id", "event_type"], order_col="ts", tiebreak_col="event_id"
    )
    return out.select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us")
    )


@register(
    "r03_category_standardize",
    oracle="""
        SELECT lang_std, COUNT(*) AS n_docs FROM (
          SELECT CASE
            WHEN lang_mapped IS NULL OR lang_mapped IN ('English','Spanish','German','French')
              THEN lang_mapped ELSE NULL END AS lang_std
          FROM (
            SELECT CASE lower(trim(lang))
              WHEN 'en' THEN 'English'
              WHEN 'es' THEN 'Spanish'
              WHEN 'de' THEN 'German'
              WHEN 'fr' THEN 'French'
              ELSE lang END AS lang_mapped
            FROM documents
          )
        ) GROUP BY lang_std
    """,
    doc="Reference A1+A2 (etl/transform.py:284-311): normalized-key map "
    "lookup (miss keeps original), then domain enforcement coercing "
    "out-of-domain values ('zh' here) to null.",
    tags=("category", "reference"),
)
def r03_category_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    std = category_expr(
        "lang",
        mapping={"en": "English", "es": "Spanish", "de": "German", "fr": "French"},
        allowed=["English", "Spanish", "German", "French"],
        coerce_to=None,
    )
    return (
        docs.select(std.alias("lang_std"))
        .groupBy("lang_std")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "r04_numeric_bounds",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN value_bounded IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulled,
               ROUND(SUM(value_bounded), 2) AS sum_value
        FROM (
          SELECT event_type,
                 CASE WHEN value >= 0 AND value <= 400 THEN value ELSE NULL END
                   AS value_bounded
          FROM events
        ) GROUP BY event_type
    """,
    doc="Reference M2 (etl/transform.py:320-350): out-of-bounds → null "
    "with nulled-count reporting, as conditional expressions + one "
    "aggregate pass.",
    tags=("numeric", "reference"),
)
def r04_numeric_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    bounded = ev.select(
        "event_type", bounds_expr("value", 0.0, 400.0).alias("value_bounded")
    )
    return bounded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value_bounded").isNull(), 1).otherwise(0)).alias(
            "n_nulled"
        ),
        F.round(F.sum("value_bounded"), 2).alias("sum_value"),
    )


@register(
    "r05_na_trim_normalize",
    oracle="""
        SELECT source_clean, COUNT(*) AS n FROM (
          SELECT CASE
            WHEN trim(source) IN ('', 'NA', 'N/A', 'null', 'None', 'NaN', 'nan', 'NULL', '-')
              THEN NULL ELSE trim(source) END AS source_clean
          FROM documents
        ) GROUP BY source_clean
    """,
    doc="Reference F1+F2 (etl/transform.py:142-147): trim then declared "
    "NA-token → null, across string columns in one projection.",
    tags=("normalize", "reference"),
)
def r05_na_trim_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").select(F.col("source").alias("source_clean"))
    cleaned = replace_na_tokens(docs)
    return cleaned.groupBy("source_clean").agg(F.count(F.lit(1)).alias("n"))


@register(
    "r06_year_derive",
    oracle="""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS ano,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY ano
    """,
    doc="Reference D4 (etl/transform.py:443-453): derive year from the "
    "date column (F.year — codegen'd).",
    tags=("datetime", "reference"),
)
def r06_year_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    return (
        orders.select(F.year("o_orderdate").alias("ano"))
        .groupBy("ano")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "r07_critical_checks",
    oracle="""
        SELECT 'doc_id' AS column_name, COUNT(doc_id) AS non_null_count FROM documents
        UNION ALL
        SELECT 'text', COUNT(text) FROM documents
        UNION ALL
        SELECT 'lang', COUNT(lang) FROM documents
        UNION ALL
        SELECT 'source', COUNT(source) FROM documents
    """,
    doc="Reference G2/G3 critical-column checks (etl/transform.py:243-254) "
    "as one aggregate pass + unpivot: a column passes iff it has ≥1 "
    "non-null value.",
    tags=("validation", "reference"),
)
def r07_critical_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source"]
    agg = docs.agg(*[F.count(F.col(c)).alias(c) for c in cols])
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    return agg.select(
        F.expr(
            f"stack({len(cols)}, {stack}) as (column_name, non_null_count)"
        )
    )


@register(
    "r09_extras_pack",
    oracle="""
        SELECT doc_id,
          CASE
            WHEN a IS NULL AND b IS NULL THEN NULL
            WHEN b IS NULL THEN CAST(json_object('a', a) AS VARCHAR)
            WHEN a IS NULL THEN CAST(json_object('b', b) AS VARCHAR)
            ELSE CAST(json_object('a', a, 'b', b) AS VARCHAR)
          END AS extras
        FROM (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS a,
                 CASE WHEN doc_id % 2 = 0 THEN NULL ELSE source END AS b
          FROM documents
        )
    """,
    doc="Reference P7 extras packing (etl/load.py:351-378): non-canonical "
    "columns → one JSON object, null fields SKIPPED per row, all-null → "
    "NULL — to_json(struct, ignoreNullFields) matches the byte-exact "
    "JSON the oracle builds conditionally.",
    tags=("json", "reference", "extras"),
)
def r09_extras_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, None).otherwise(F.col("lang")).alias("a"),
        F.when(F.col("doc_id") % 2 == 0, None).otherwise(F.col("source")).alias("b"),
    )
    packed = F.to_json(F.struct("a", "b"), {"ignoreNullFields": "true"})
    return docs.select(
        "doc_id",
        F.when(packed == "{}", F.lit(None)).otherwise(packed).alias("extras"),
    )


_R10_CONTRACT = {
    "dataset": "events_demo",
    "schema": {
        "columns": {"event_type": "category", "value": "numeric"},
        "pad_missing": True,
    },
    "normalize": {"trim_strings": True, "drop_all_null_rows": True},
    "categories": {
        "event_type": {
            "map": {
                "click": "Click", "view": "View", "purchase": "Purchase",
                "signup": "Signup", "error": "Error",
            },
            "allowed": ["Click", "View", "Purchase", "Signup", "Error"],
            "coerce_to": None,
        }
    },
    "numeric_rules": {"value": {"min": 0, "max": 400}},
    "ids": {
        "business_key": {"fields": ["user_id", "ts", "event_type"]},
        "surrogate": {"method": "sha256"},
    },
    "dedup": {
        "enforce_unique": True,
        "keep": "latest",
        "order_by": "ts",
        # unique tiebreak: the business key truncates ts to seconds, so
        # order_by ties are possible and the WINNER'S event_id/value are
        # emitted — without this the keep is engine-internal choice
        "tiebreak": "event_id",
    },
}


@register(
    "r10_contract_end_to_end",
    oracle="""
        WITH mapped AS (
          SELECT event_id, user_id, ts,
                 CASE lower(trim(event_type))
                   WHEN 'click' THEN 'Click' WHEN 'view' THEN 'View'
                   WHEN 'purchase' THEN 'Purchase' WHEN 'signup' THEN 'Signup'
                   WHEN 'error' THEN 'Error' ELSE event_type END AS event_type,
                 CASE WHEN value >= 0 AND value <= 400 THEN value END AS value
          FROM events
        ),
        keyed AS (
          SELECT *,
                 concat_ws('|', user_id, strftime(ts, '%Y-%m-%d %H:%M:%S'), event_type)
                   AS business_key
          FROM mapped
        ),
        deduped AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY business_key ORDER BY ts DESC, event_id DESC
            ) AS rn FROM keyed
          ) WHERE rn = 1
        )
        SELECT sha256(business_key) AS surrogate_id,
               business_key,
               event_id,
               event_type,
               value
        FROM deduped
    """,
    doc="The ENTIRE declarative contract pipeline — category map + domain "
    "enforcement, numeric bounds, pandas-style key rendering, sha256 "
    "surrogate, keep-latest dedup — compiled by ContractPipeline from a "
    "config dict and verified end-to-end against one SQL oracle that "
    "replicates the whole chain. The contract engine itself is "
    "correctness-gated, not just its pieces.",
    tags=("contract", "reference", "end-to-end"),
)
def r10_contract_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.contract.compiler import ContractPipeline
    from gov_ec_pipeline_etl_spark.contract.model import Contract

    ev = T(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    pipeline = ContractPipeline(Contract.from_dict(_R10_CONTRACT))
    out, _ = pipeline.finish(pipeline.keyed(ev))
    return out.select(
        "surrogate_id", "business_key", "event_id", "event_type", "value"
    )
