"""``caching.stage`` is the one materialization primitive: staging runs
no job, a query's stages all go with ``unpersist_inputs``, a release
frees only its own session's stages, and no other module persists."""

from __future__ import annotations

import os
import re

import pytest

from tests.conftest import SF_SMOKE

# Queries that stage at least one frame while they are built.
STAGING = [
    "d02_minhash_lsh", "d03_simhash", "d04_ngram_jaccard", "d05_containment",
    "s02_embedding_neardup", "u12_incremental_neardup", "u13_dedup_funnel",
    "u17_ngram_incremental", "u18_simhash_groups", "u20_minhash_estimate_error",
    "u29_split_leakage_check", "u31_semantic_neardup", "u35_curation_funnel",
    "u41_bpe_merges", "u43_bpe_fertility", "u51_cms_merge",
    "u62_substring_runs", "u63_substring_dedup_cut", "u64_sequence_packing",
    "u68_capped_funnel", "u69_image_dhash", "u70_audio_fp_neardup",
    "u72_video_fp_neardup", "u73_minhash_error_budgeted",
    "u74_split_leakage_budgeted", "x58_pagerank", "x59_market_basket",
]

# Queries whose builds ran cache barriers before: building and
# explaining each starts no job.
NO_JOB = [
    "d02_minhash_lsh", "d03_simhash", "d04_ngram_jaccard", "d05_containment",
    "u12_incremental_neardup", "u18_simhash_groups",
    "u20_minhash_estimate_error", "u29_split_leakage_check",
    "u35_curation_funnel", "u46_line_dedup", "u51_cms_merge",
    "u68_capped_funnel", "u73_minhash_error_budgeted",
    "u74_split_leakage_budgeted", "x59_market_basket",
    "r10_contract_end_to_end",
]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def jobs_to_build_and_explain(spark, name: str) -> list[int]:
    """Ids of the Spark jobs started while query ``name`` is built at
    sf0.001 and its plan explained."""
    from gov_ec_pipeline_etl_spark.caching import unpersist_inputs
    from gov_ec_pipeline_etl_spark.plans import all_queries
    from gov_ec_pipeline_etl_spark.plans.util import T

    for table in ("documents", "embeddings", "events", "lineitem", "part"):
        T(spark, SF_SMOKE, table)  # a first schema read may start a job
    sc = spark.sparkContext
    sc.setJobGroup(f"{name}-build", f"{name} plan construction")
    try:
        df = all_queries()[name].spark(spark, SF_SMOKE)
        df.explain()
        jobs = list(sc.statusTracker().getJobIdsForGroup(f"{name}-build"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    unpersist_inputs(df)
    return jobs


@pytest.mark.parametrize("name", NO_JOB)
def test_build_and_explain_start_no_job(spark, name):
    assert jobs_to_build_and_explain(spark, name) == []


@pytest.mark.parametrize("name", STAGING)
def test_unpersist_inputs_leaves_nothing_cached(spark, name):
    """Run a staging query, release its inputs: the session's cache is
    empty again."""
    from gov_ec_pipeline_etl_spark.caching import _STAGED, unpersist_inputs
    from gov_ec_pipeline_etl_spark.plans import all_queries

    spark.catalog.clearCache()
    df = all_queries()[name].spark(spark, SF_SMOKE)
    assert _STAGED.get(spark), f"{name} stages nothing"
    df.write.format("noop").mode("overwrite").save()
    unpersist_inputs(df)
    assert _cache_empty(spark)
    assert spark not in _STAGED


def test_stage_is_lazy_and_released_per_session(spark):
    """``stage`` starts no job; releasing a frame of another session (a
    foreachBatch micro-batch runs on the stream's cloned session) leaves
    this session's stages cached."""
    from pyspark import StorageLevel

    from gov_ec_pipeline_etl_spark.caching import released, stage

    spark.catalog.clearCache()
    sc = spark.sparkContext
    sc.setJobGroup("stage-lazy", "stage")
    try:
        mine = stage(spark.range(100).selectExpr("id * 2 AS x"))
        jobs = sc.statusTracker().getJobIdsForGroup("stage-lazy")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert jobs == []
    other = spark.newSession()
    theirs = stage(other.range(10).selectExpr("id + 1 AS y"))
    with released(theirs.where("y > 3")) as t:
        assert t.count() == 7
    assert theirs.storageLevel == StorageLevel.NONE
    assert mine.storageLevel != StorageLevel.NONE
    with released(mine.where("x > 10")) as m:
        assert m.count() == 94
    assert _cache_empty(spark)


def test_one_materialization_primitive():
    """No result-handle convention is left, no frame is persisted outside
    ``caching.stage`` but the transaction-scoped sink, and no build
    discards a ``count()`` to force a cache (a cache barrier)."""
    import gov_ec_pipeline_etl_spark as pkg

    root = os.path.dirname(pkg.__file__)
    barrier = re.compile(r"^\s*[A-Za-z_][\w.]*\.count\(\)\s*(#.*)?$", re.M)
    handles, persists, barriers = [], set(), []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f)) as fh:
                    text = fh.read()
                rel = os.path.relpath(os.path.join(d, f), root)
                if re.search(r"\bhold\(|_persisted_inputs", text):
                    handles.append(rel)
                if ".persist(" in text:
                    persists.add(rel)
                barriers += [rel] * len(barrier.findall(text))
    assert handles == []
    assert persists == {"caching.py", "sinks/upsert.py"}
    assert barriers == []
