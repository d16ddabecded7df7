"""Streaming query surface (SURVEY.md §2.14 — ABSENT in reference,
supplied natively by Structured Streaming; the engine exposes it as
first-class, oracle-checked where batch-equivalent).

st01 runs a REAL streaming query (file source → watermarked tumbling
window → parquet result via foreachBatch, Trigger.AvailableNow); its
oracle is the batch equivalence guarantee of complete-mode windowed
aggregation. st02 is session windowing, oracled by a gaps-and-islands
SQL rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.plans.registry import register
from gov_ec_pipeline_etl_spark.plans.util import T
from gov_ec_pipeline_etl_spark.streaming.events import (
    run_attribution_join_stream,
    run_streaming_dedup,
    run_tumbling_window_stream,
    session_window_agg,
)


@register(
    "st01_tumbling_window_stream",
    oracle="""
        SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events
        GROUP BY window_start_us, event_type
    """,
    doc="True Structured Streaming execution: parquet file source → "
    "10-min watermark → 1-hour tumbling windows per event_type → parquet "
    "result via foreachBatch (complete mode, Trigger.AvailableNow). "
    "Complete-mode windowed aggregation over a finite replay equals the "
    "batch GROUP BY — which is exactly what the oracle checks.",
    tags=("streaming", "window"),
)
def st01_tumbling_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_tumbling_window_stream(spark, sf_dir)


@register(
    "st03_streaming_dedup",
    oracle="""
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
    """,
    doc="Streaming dedup with bounded state: events replayed with every "
    "row planted TWICE through dropDuplicatesWithinWatermark (30-min "
    "horizon, append mode, AvailableNow) must reproduce exactly the "
    "distinct event set — which is what the oracle states.",
    tags=("streaming", "dedup"),
)
def st03_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_dedup(spark, sf_dir)


@register(
    "st02_session_window",
    oracle="""
        WITH marked AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           > INTERVAL 5 MINUTE
                      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
        ),
        sessions AS (
          SELECT user_id, ts, value,
                 SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS session_id
          FROM marked
        )
        SELECT user_id,
               epoch_us(MIN(ts)) AS session_start_us,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM sessions
        GROUP BY user_id, session_id
    """,
    doc="Session windows (5-minute gap merge) per user via "
    "F.session_window — oracled by the classic gaps-and-islands "
    "rewrite. Same operator streams with a watermark in production.",
    bench=True,
    tags=("streaming", "session-window"),
)
def st02_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_agg(T(spark, sf_dir, "events"), gap="5 minutes")


@register(
    "st04_stateful_counters",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value,
               MAX(epoch_us(ts)) AS last_ts_us
        FROM events
        GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "per-user counters evolved across micro-batches (events replayed as "
    "3 files, maxFilesPerTrigger=1 forces state to survive batch "
    "boundaries). The final emitted state per user must equal the batch "
    "GROUP BY — which is the oracle.",
    tags=("streaming", "stateful", "pandas-udf"),
)
def st04_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.streaming.stateful import run_user_counters

    return run_user_counters(spark, sf_dir)


@register(
    "v01_stream_stream_join",
    oracle="""
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id,
               epoch_us(c.ts) AS click_ts_us,
               epoch_us(p.ts) AS purchase_ts_us,
               ROUND(p.value, 2) AS purchase_value
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND p.event_type = 'purchase'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 24 HOUR
    """,
    doc="True stream-stream interval join (click→purchase attribution "
    "within 24 h): two watermarked file-source streams joined in append "
    "mode under Trigger.AvailableNow. The watermark + interval bound let "
    "the state store evict both sides, so the plan runs unbounded; the "
    "finite single-batch replay makes it equal the batch interval join "
    "the oracle states. v-tier name: sorts after the driver's 50-slot "
    "recording window (see registry docstring).",
    tags=("streaming", "join", "interval"),
)
def v01_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_attribution_join_stream(spark, sf_dir)


from gov_ec_pipeline_etl_spark.plans.training_queries import (
    INCREMENTAL_NEARDUP_ORACLE as _V02_ORACLE,
)


@register(
    "v02_streaming_neardup_ingest",
    oracle=_V02_ORACLE,
    doc="Streaming near-dup ingest: document arrivals stream in 3 "
    "micro-batches (file source, maxFilesPerTrigger=1) and each "
    "foreachBatch runs the asymmetric band join + exact-Jaccard rerank "
    "against the STORED corpus MinHash index — the production "
    "deployment of u12. Every result row involves exactly one arrival "
    "and the batches partition the arrival set, so the streamed union "
    "equals the one-shot batch result: the oracle is u12's full "
    "signature replay, making this streaming pipeline hash-checkable "
    "end to end, not rows-only.",
    tags=("streaming", "dedup", "incremental", "stored-index", "llm-pipeline"),
)
def v02_streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.plans.training_queries import MUT_OFFSET
    from gov_ec_pipeline_etl_spark.streaming.ingest import (
        run_streaming_neardup_ingest,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    arrivals = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        F.concat("text", F.lit(" zz0 zz1 zz2")).alias("text"),
    )
    return run_streaming_neardup_ingest(spark, docs, arrivals)


from gov_ec_pipeline_etl_spark.plans.quality_queries import (
    _gopher_oracle as _V03_ORACLE,
)


@register(
    "v03_streaming_quality_gate",
    oracle=_V03_ORACLE(),
    doc="Streaming ingest-time quality gate: documents arrive in 3 "
    "micro-batches (file source, maxFilesPerTrigger=1) and each "
    "foreachBatch scores its batch with the Gopher repetition rules "
    "(u36's operator) before the documents would enter the corpus — "
    "the deployment where filtering happens on arrival, not in a "
    "nightly sweep. The signal is purely per-document, so the streamed "
    "union equals the one-shot batch result and u36's full DuckDB "
    "oracle hash-checks the stream end to end.",
    tags=("streaming", "quality", "repetition", "llm-pipeline"),
)
def v03_streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.streaming.ingest import (
        run_streaming_quality_gate,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    return run_streaming_quality_gate(spark, docs)


def _v04_oracle(_sf_dir: str | None = None) -> str:
    from gov_ec_pipeline_etl_spark.plans.dedup_queries import (
        TOKS_SQL as _TOKS_SQL,
    )
    from gov_ec_pipeline_etl_spark.plans.quality_queries import (
        _bpe_chain_parts,
    )

    ctes = ",\n        ".join(_bpe_chain_parts(4))
    return f"""
        WITH {ctes},
        seg AS (
          SELECT replace(replace(ws, '(', ''), ')', '') AS w,
                 len(regexp_extract_all(ws, '\\(([^()]+)\\)', 1)) AS n_syms
          FROM w4
        ),
        tokstream AS (
          SELECT doc_id, source, unnest({_TOKS_SQL}) AS w
          FROM documents
        )
        SELECT t.doc_id AS id, t.source,
               CAST(SUM(s.n_syms) AS BIGINT) AS n_syms,
               CAST(COUNT(*) AS BIGINT) AS n_toks
        FROM tokstream t JOIN seg s USING (w)
        GROUP BY t.doc_id, t.source
    """



@register(
    "v04_streaming_bpe_meter",
    oracle=_v04_oracle,
    doc="Ingest-time tokenization metering: BPE merges are learned from "
    "the corpus in batch (u41's learner), then documents arrive in 3 "
    "micro-batches and each foreachBatch segments its batch with the "
    "stored merge table and appends the per-document "
    "(id, source, n_syms, n_toks) meter row — the number a "
    "budget-aware ingest loop charges against a source quota. "
    "Per-document and stateless, so the streamed union equals the "
    "one-shot batch and the u43-style segmentation-map oracle "
    "hash-checks the REAL AvailableNow stream end to end.",
    tags=("streaming", "tokenizer", "llm-pipeline"),
)
def v04_streaming_bpe_meter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.bpe import bpe_merges
    from gov_ec_pipeline_etl_spark.streaming.ingest import (
        run_streaming_bpe_meter,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    with released(bpe_merges(docs, steps=4)) as m:
        merges = [
            (r["merge_left"], r["merge_right"])
            for r in m.orderBy("step").collect()
        ]
    return run_streaming_bpe_meter(spark, docs, merges)


from gov_ec_pipeline_etl_spark.plans.hygiene_queries import (
    PII_ORACLE as _V05_ORACLE,
)


@register(
    "v05_streaming_pii_gate",
    oracle=_V05_ORACLE,
    doc="Streaming ingest-time PII gate: documents arrive in 3 "
    "micro-batches (file source, maxFilesPerTrigger=1) and each "
    "foreachBatch counts + redacts emails/phones/IPv4s with u45's "
    "scrub BEFORE the documents would be persisted to the corpus "
    "store — the compliance deployment where masking happens on "
    "arrival, not in a later sweep. The scrub is purely per-document, "
    "so the streamed union equals the one-shot batch result and u45's "
    "full DuckDB oracle (planted-PII replay + redacted-text md5) "
    "hash-checks the REAL AvailableNow stream end to end.",
    tags=("streaming", "pii", "hygiene", "llm-pipeline"),
)
def v05_streaming_pii_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.operators.hygiene import plant_pii
    from gov_ec_pipeline_etl_spark.streaming.ingest import (
        run_streaming_pii_gate,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    # plant BEFORE staging so the stream scrubs the same bytes the
    # oracle replays (planting is per-row deterministic)
    planted = docs.select("doc_id", plant_pii(docs).alias("text"))
    return run_streaming_pii_gate(spark, planted)


from gov_ec_pipeline_etl_spark.plans.analytics_queries import (
    SESSIONIZE_ORACLE as _V06_ORACLE,
)


@register(
    "v06_streaming_sessionize",
    oracle=_V06_ORACLE,
    doc="Stateful streaming sessionization (applyInPandasWithState): "
    "events stream in 3 micro-batches of ARBITRARY order and per-user "
    "state assembles 30-min-gap sessions, re-emitting the session set "
    "as evidence arrives; the final emission per user is asserted "
    "equal to x55's batch sessionization by the same DuckDB oracle — "
    "the out-of-order-robust semantics a real event stream needs "
    "(batch order is not contractual on a file source). State buffers "
    "only (ts, event_id) pairs; at cluster scale a watermark delay >= "
    "the gap makes every session older than watermark−gap FINAL, so "
    "closed sessions evict via GroupStateTimeout and only the open "
    "tail stays in state — the bounded-state deployment documented in "
    "streaming/stateful.py.",
    tags=("streaming", "stateful", "sessionization", "analytics"),
)
def v06_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.streaming.stateful import (
        run_streaming_sessionize,
    )

    return run_streaming_sessionize(spark, sf_dir)


from gov_ec_pipeline_etl_spark.functions.hashing import (
    portable_hash64_sql as _ph64_sql,
)

_V07_ORACLE = f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
      FROM documents
    ),
    seeded AS (
      SELECT token, s,
             {_ph64_sql("token", 0)} * (s + 1) % 1024 AS bucket
      FROM toks, UNNEST(range(0, 4)) AS u(s)
    ),
    cm AS (
      SELECT s, bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM seeded GROUP BY s, bucket
    ),
    exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM toks GROUP BY token
    ),
    top20 AS (
      SELECT token, exact_n FROM exact
      ORDER BY exact_n DESC, token LIMIT 20
    ),
    probes AS (
      SELECT t.token, t.exact_n, u.s,
             {_ph64_sql("t.token", 0)} * (u.s + 1) % 1024 AS bucket
      FROM top20 t, UNNEST(range(0, 4)) AS u(s)
    )
    SELECT p.token, p.exact_n,
           MIN(c.n) AS cms_estimate,
           TRUE AS merge_exact
    FROM probes p JOIN cm c ON c.s = p.s AND c.bucket = p.bucket
    GROUP BY p.token, p.exact_n
"""


@register(
    "v07_streaming_cms_ingest",
    oracle=_V07_ORACLE,
    doc="Streaming sketch accretion: documents arrive in 3 micro-"
    "batches and each foreachBatch builds ITS OWN 4x1024 Count-Min "
    "grid and appends it to a grid store — u51's mergeable-summaries "
    "identity deployed as the unbounded-ingest state pattern (per-"
    "trigger grids are 4096 cells; the store compacts by summation; "
    "no raw token is retained). The final probe of the SUMMED store "
    "must equal the single-pass corpus sketch cell-for-cell (integer "
    "counters), so merge_exact flips on any lost or duplicated batch; "
    "the oracle replays the single-pass sketch + exact-top-20 probes "
    "and asserts the claim as a hash-checked boolean (q21b pattern).",
    tags=("streaming", "sketch", "merge", "llm-pipeline"),
)
def v07_streaming_cms_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.streaming.ingest import (
        run_streaming_cms_ingest,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    return run_streaming_cms_ingest(spark, docs)


_V08_ORACLE = """
    WITH per AS (
      SELECT event_type AS scope,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events
    )
    SELECT scope, exact_users, TRUE AS within_5pct FROM per
    UNION ALL SELECT 'ALL_MERGED', exact_users, TRUE FROM tot
"""


@register(
    "v08_streaming_hll_ingest",
    oracle=_V08_ORACLE,
    doc="Streaming HLL accretion: events arrive in 3 micro-batches; "
    "each foreachBatch appends per-event-type DataSketches HLL "
    "sketches (binary, ~2 KB) to a sketch store, and the final answer "
    "hll_union_agg's the store per type plus one global union — u54's "
    "mergeable algebra as the unbounded-ingest state pattern beside "
    "v07's Count-Min form. HLL union preserves the ACCURACY BOUND but "
    "not v07's bit-equality (integer grids sum exactly; HLL register "
    "paths don't), so the oracled claim is each estimate within 5% of "
    "the exact distinct count, emitted as hash-checked booleans "
    "(q21b pattern). No raw user id survives the trigger.",
    tags=("streaming", "sketch", "hll", "llm-pipeline"),
)
def v08_streaming_hll_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.streaming.ingest import (
        run_streaming_hll_ingest,
    )

    ev = T(spark, sf_dir, "events").select("event_type", "user_id")
    return run_streaming_hll_ingest(spark, ev)


_V09_K = 8

_V09_ORACLE = f"""
    WITH c AS (
      SELECT event_id, user_id, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS rn
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id, user_id, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS rn
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           epoch_us(c.ts) AS click_ts_us,
           epoch_us(p.ts) AS purchase_ts_us,
           ROUND(p.value, 2) AS purchase_value
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 24 HOUR
    WHERE c.rn <= {_V09_K} AND p.rn <= {_V09_K}
"""


@register(
    "v09_capped_attribution",
    oracle=_V09_ORACLE,
    doc="Skew-guarded stream-stream attribution: v01's interval join is "
    "OUTPUT-quadratic per key (the round-6 skew-gate finding — a "
    "30%-hot user emits ~3.6e9 rows at sf1, in any engine, because "
    "that IS the answer), so the guarded deployment caps each side to "
    "its first k=8 events per user (total order (ts, event_id)) "
    "upstream of the join, bounding state and output to k*k per key. "
    "The join itself is the same real watermarked append-mode "
    "AvailableNow stream-stream interval join as v01; the cap is the "
    "upstream stage PERF.md's v01 root-cause prescribes, and its "
    "rank<=k window compiles to WindowGroupLimit (map-side partial "
    "top-k), so even the hot key's history never crosses an exchange "
    "whole. Runs green where v01 is a named skew skip.",
    tags=("streaming", "join", "interval", "scale-guard"),
)
def v09_capped_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.streaming.events import (
        run_capped_attribution_stream,
    )

    return run_capped_attribution_stream(spark, sf_dir, k=_V09_K)
