"""Custom stateful streaming operator via applyInPandasWithState.

The brief's slot for operators Structured Streaming's built-ins can't
express: arbitrary per-key state evolved batch-by-batch in Python.
Example operator: per-user running counters (events seen, value sum,
last-seen timestamp) emitted once per micro-batch per updated key —
the streaming generalization of the reference's per-run audit counters.

State is one pandas-friendly tuple per user — O(keys) state, Arrow
transfer, GroupStateTimeout available for eviction at scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from gov_ec_pipeline_etl_spark.plans.util import T
from gov_ec_pipeline_etl_spark.streaming.staging import (
    PANDAS_ROWS_PER_STORE,
    replay,
    stage,
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)


def _update_user_counters(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, last_us = state.get
    else:
        n, total, last_us = 0, 0.0, 0
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        us = pdf["ts"].astype("datetime64[us]").astype("int64")
        last_us = max(last_us, int(us.max()))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [total],
            "last_ts_us": [last_us],
        }
    )


def user_counters_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming DataFrame → per-user evolving counters."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_user_counters,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_user_counters(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """Execute the stateful operator over the events table replayed as
    ``n_chunks`` files (state must survive across micro-batches);
    returns the LAST emitted row per user."""
    events = T(spark, sf_dir, "events").select("user_id", "ts", "value")
    stream, staged = stage(
        events.repartition(n_chunks),
        "events_state",
        maxFilesPerTrigger=1,  # force multiple micro-batches
    )
    all_rows = replay(
        user_counters_stream(stream), "update", [staged], PANDAS_ROWS_PER_STORE
    )
    # update-mode memory sink appends one row per key per batch → keep the
    # final (cumulative) row per user: the one with max n_events
    return (
        all_rows.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value_raw"),
            F.max("last_ts_us").alias("last_ts_us"),
        )
        .select(
            "user_id",
            "n_events",
            F.round("sum_value_raw", 2).alias("sum_value"),
            "last_ts_us",
        )
    )


# --- stateful streaming sessionization -------------------------------
# Per-user session assembly with arbitrary-order arrival: micro-batches
# may deliver a user's events in any order (file-source batch order is
# not contractual), so the state buffers the user's (ts, event_id)
# pairs and the session set is recomputed per batch — the emitted rows
# converge to the batch sessionization regardless of batch order. At
# cluster scale the buffer does NOT grow unboundedly: with a watermark
# delay W >= the session gap, every session whose last event is older
# than (watermark - gap) is final — it can be emitted and its events
# evicted via GroupStateTimeout; only the open tail stays in state.
# The finite replay here keeps NoTimeout and proves exact equality
# with the batch plan (x55's oracle) instead.

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("tsus", ArrayType(LongType())),
        StructField("eids", ArrayType(LongType())),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        StructField("span_us", LongType()),
        StructField("n_seen", LongType()),
    ]
)

from gov_ec_pipeline_etl_spark.plans.analytics_queries import SESSION_GAP_US


def _update_user_sessions(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    tsus, eids = state.get if state.exists else ([], [])
    tsus, eids = list(tsus), list(eids)
    for pdf in batches:
        tsus.extend(
            int(x)
            for x in pdf["ts"].astype("datetime64[us]").astype("int64")
        )
        eids.extend(int(x) for x in pdf["event_id"])
    order = sorted(range(len(tsus)), key=lambda i: (tsus[i], eids[i]))
    tsus = [tsus[i] for i in order]
    eids = [eids[i] for i in order]
    state.update((tsus, eids))
    sessions: list[tuple[int, int, int]] = []  # (sid, n, span)
    sid, start, last, n = 0, None, None, 0
    for t in tsus:
        if last is None or t - last > SESSION_GAP_US:
            if last is not None:
                sessions.append((sid, n, last - start))
            sid, start, n = sid + 1, t, 0
        n += 1
        last = t
    if last is not None:
        sessions.append((sid, n, last - start))
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_id": [s[0] for s in sessions],
            "n_events": [s[1] for s in sessions],
            "span_us": [s[2] for s in sessions],
            "n_seen": [len(tsus)] * len(sessions),
        }
    )


def run_streaming_sessionize(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """Stream the events table as ``n_chunks`` micro-batches through
    the stateful session assembler; return the FINAL session set per
    user (the emission where that user had seen all its events)."""
    events = T(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    # arbitrary split — the operator is batch-order robust by design
    stream, staged = stage(
        events.repartition(n_chunks), "events_sess", maxFilesPerTrigger=1
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_sessions,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    all_rows = replay(sessions, "update", [staged], PANDAS_ROWS_PER_STORE)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    return (
        all_rows.withColumn("max_seen", F.max("n_seen").over(w))
        .where(F.col("n_seen") == F.col("max_seen"))
        .select("user_id", "session_id", "n_events", "span_us")
        .distinct()
    )
