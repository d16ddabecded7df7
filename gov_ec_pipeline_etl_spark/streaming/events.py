"""Event-stream operators: watermarked tumbling windows (true streaming
execution) and session windows.

Scale notes: streaming state is keyed by (window, event_type) — bounded
by windows×types, not events. At 100 TB/day the same plan runs against a
Kafka/file source with checkpointed exactly-once sinks; here the driver's
events parquet is replayed with Trigger.AvailableNow (the batch-boundary
trigger — the direct analog of the reference's "process changed files
once per weekly run", pipeline.py:40-140).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.plans.util import T
from gov_ec_pipeline_etl_spark.streaming.staging import replay, stage


def tumbling_window_agg(events: DataFrame) -> DataFrame:
    """Hourly tumbling window per event_type: count + sum(value)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_tumbling_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the tumbling-window aggregation as a REAL stream: parquet
    file source → watermark → windowed agg → memory sink, complete mode,
    Trigger.AvailableNow (all available data, then stop). Returns the
    materialized result table."""
    # File source wants a directory of files; stage the single parquet
    # file via the batch reader (also normalizes the nanos timestamp).
    stream, staged = stage(T(spark, sf_dir, "events"), "events_stream")
    return replay(tumbling_window_agg(stream), "complete", [staged])


def run_incremental_file_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, target_dir: str
) -> int:
    """Process-each-file-once semantics (the Structured Streaming superset
    of the reference's fingerprint diff, SURVEY.md §2.14): file source +
    checkpoint + Trigger.AvailableNow. Re-running against an unchanged
    source directory processes nothing; new files process exactly once.
    Returns rows written this run."""
    first = spark.read.parquet(source_dir)
    stream = spark.readStream.schema(first.schema).parquet(source_dir)
    q = (
        stream.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # AvailableNow may split the backlog into several micro-batches;
    # lastProgress would undercount, so sum this run's batches.
    return sum(int(p["numInputRows"]) for p in q.recentProgress)


def streaming_dedup(events: DataFrame, within: str = "30 minutes") -> DataFrame:
    """Streaming dedup on event_id with bounded state:
    dropDuplicatesWithinWatermark keeps ids only for the watermark
    horizon — the streaming analog of the reference's keyed dedup with
    O(horizon) instead of O(history) state."""
    return events.withWatermark("ts", within).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute streaming_dedup over a replayed event stream (with planted
    duplicate rows), materialized via memory sink."""
    events = T(spark, sf_dir, "events")
    # plant exact duplicates: every event twice → dedup must halve it
    stream, staged = stage(events.unionByName(events), "events_dedup")
    out = streaming_dedup(stream).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    return replay(out, "append", [staged])


def session_window_agg(
    events: DataFrame, gap: str = "5 minutes"
) -> DataFrame:
    """Per-user session windows (gap-merged): session count/size/value.
    Works identically over a stream (with watermark) or a batch frame;
    batch mode here so the result is deterministic for the oracle."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(
    events: DataFrame, window: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    """OVERLAPPING (sliding) windows per event_type — each event lands in
    window/slide windows (4 here), the streaming moving-average shape.
    State stays bounded by (windows in watermark horizon × types)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def run_sliding_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation as a real stream run (same harness as
    the tumbling variant)."""
    stream, staged = stage(T(spark, sf_dir, "events"), "events_slide")
    return replay(sliding_window_agg(stream), "complete", [staged])


def run_stream_static_enrichment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (re-read per micro-batch, broadcast by size) —
    the streaming face of the category-map lookup (reference J2/A1).
    Unmatched users keep null segment (left join), counted per segment."""
    stream, staged = stage(T(spark, sf_dir, "events"), "events_enrich")
    dim = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = (
        stream.join(F.broadcast(dim), "user_id", "left")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return replay(enriched, "complete", [staged])


def attribution_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase attributed to every
    click by the same user within the preceding 24 hours.

    Both sides carry a 1-hour watermark and the join condition bounds
    purchase_ts to [click_ts, click_ts + 24h] — together these let the
    state store evict click rows older than watermark + 24h and purchase
    rows older than watermark, so state stays O(rate × horizon) instead
    of O(history). That eviction contract is what makes this shape run
    indefinitely on an unbounded 100 TB/day stream.
    """
    c = clicks.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("click_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 24 HOURS")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.round("purchase_value", 2).alias("purchase_value"),
    )


def run_attribution_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the click→purchase interval join as a real stream-stream
    join: one staged replay of events feeds two file-source streams
    (filtered to clicks / purchases), append mode, Trigger.AvailableNow.

    The staging write lands well under the file-source's per-batch file
    cap, so the replay is a single micro-batch and the watermark cannot
    advance mid-replay and drop rows — the finite-replay equivalence to
    the batch interval join the oracle asserts.
    """
    events = T(spark, sf_dir, "events")
    clicks, staged = stage(events, "events_attr")
    # a second, independent file source over the same staged files
    purchases = spark.readStream.schema(events.schema).parquet(staged)
    return replay(
        attribution_join(
            clicks.where(F.col("event_type") == "click"),
            purchases.where(F.col("event_type") == "purchase"),
        ),
        "append",
        [staged],
    )


def run_capped_attribution_stream(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """Skew-guarded deployment of the attribution join: each side is
    capped to its first ``k`` rows per user (total order (ts, event_id))
    by an upstream pass BEFORE the streams join, bounding stream-stream
    state and output to k*k rows per key.

    This is the engineered mitigation for the v01 skew-gate finding
    (PERF.md round 6): click->purchase attribution is OUTPUT-quadratic
    per key, so a 30%-hot user emits ~3.6e9 rows at sf1 — no join
    strategy shrinks a quadratic answer; the guard must cut key mass
    upstream. In production the cap runs as its own streaming stage (a
    per-key counter with state eviction at the watermark, or at the
    producer); here it runs as the batch pre-pass that stages the replay
    files, which is equivalent on a finite replay — the join itself is
    the same real watermarked interval join v01 runs. The cap window is
    rank<=k, so it compiles to WindowGroupLimit (map-side partial
    top-k): the pre-pass shuffle carries at most k rows per user per
    task, never the hot key's full history.
    """
    from pyspark.sql import Window

    events = T(spark, sf_dir, "events")

    def _cap(side: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            events.where(F.col("event_type") == side)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )

    clicks, staged_c = stage(_cap("click"), "events_capped_c")
    purchases, staged_p = stage(_cap("purchase"), "events_capped_p")
    # capped replay: at most k rows per user per side reach the join
    return replay(attribution_join(clicks, purchases), "append", [staged_c, staged_p])
