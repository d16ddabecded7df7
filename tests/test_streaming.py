"""Streaming semantics: process-each-file-once via checkpoints (the
reference's incremental extraction as Structured Streaming), and
bounded-state streaming dedup."""

from __future__ import annotations

import os

from gov_ec_pipeline_etl_spark.streaming.events import (
    run_incremental_file_stream,
)
from tests.conftest import SF_SMOKE


def test_incremental_file_stream_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    df1 = spark.range(0, 100).withColumnRenamed("id", "v")
    df1.write.mode("append").parquet(src)
    n1 = run_incremental_file_stream(spark, src, ckpt, out)
    assert n1 == 100
    assert spark.read.parquet(out).count() == 100

    # unchanged source → second run processes nothing (reference I2
    # "unchanged ⇒ zero work" as checkpoint semantics)
    n2 = run_incremental_file_stream(spark, src, ckpt, out)
    assert n2 == 0
    assert spark.read.parquet(out).count() == 100

    # new file → processed exactly once, old files not reprocessed
    spark.range(100, 150).withColumnRenamed("id", "v").write.mode(
        "append"
    ).parquet(src)
    n3 = run_incremental_file_stream(spark, src, ckpt, out)
    assert n3 == 50
    assert spark.read.parquet(out).count() == 150


def test_streaming_dedup_halves_planted_duplicates(spark):
    from gov_ec_pipeline_etl_spark.plans.util import T
    from gov_ec_pipeline_etl_spark.streaming.events import run_streaming_dedup

    expected = T(spark, SF_SMOKE, "events").count()
    out = run_streaming_dedup(spark, SF_SMOKE)
    assert out.count() == expected
    assert out.select("event_id").distinct().count() == expected


def test_sliding_window_stream_matches_batch(spark):
    """Sliding windows over a real stream run must equal the same
    windowed aggregation computed in batch (each event lands in
    window/slide = 4 overlapping windows)."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.plans.util import T
    from gov_ec_pipeline_etl_spark.streaming.events import (
        run_sliding_window_stream,
        sliding_window_agg,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.window_start_us, r.event_type): (r.n_events, r.avg_value)
        for r in run_sliding_window_stream(spark, sf).collect()
    }
    batch = sliding_window_agg(T(spark, sf, "events"))
    want = {
        (r.window_start_us, r.event_type): (r.n_events, r.avg_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0
    # overlap sanity: sliding windows hold ~4x the tumbling event mass
    n_events = T(spark, sf, "events").count()
    assert abs(sum(v[0] for v in got.values()) - 4 * n_events) < 4 * 4


def test_stream_static_enrichment(spark):
    """Stream-static broadcast join: per-segment counts equal the batch
    left-join, and events without a matching customer keep null."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.plans.util import T
    from gov_ec_pipeline_etl_spark.streaming.events import (
        run_stream_static_enrichment,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.segment: r.n_events
        for r in run_stream_static_enrichment(spark, sf).collect()
    }
    dim = T(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    want = {
        r.segment: r.n_events
        for r in T(spark, sf, "events")
        .join(dim, "user_id", "left")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want
    assert sum(got.values()) == T(spark, sf, "events").count()


def test_stateful_sessionize_batch_order_robust():
    """v06's core claim, pinned without Spark: feeding the per-user
    state function the SAME events in time order, reverse order, and
    interleaved order yields identical final session sets (the buffer
    re-sorts and recomputes per batch)."""
    import pandas as pd

    from gov_ec_pipeline_etl_spark.plans.analytics_queries import (
        SESSION_GAP_US,
    )
    from gov_ec_pipeline_etl_spark.streaming.stateful import (
        _update_user_sessions,
    )

    class FakeState:
        def __init__(self):
            self._v, self.exists = None, False

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

    base = 1_700_000_000_000_000  # us
    gap = SESSION_GAP_US
    # sessions: [e1, e2] (close), [e3] (after > gap), [e4] (after > gap)
    events = [
        (1, base),
        (2, base + 1_000_000),
        (3, base + gap + 2_000_000),
        (4, base + 2 * gap + 10_000_000),
    ]

    def pdf(rows):
        return pd.DataFrame(
            {
                "user_id": [7] * len(rows),
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[1] for r in rows], unit="us"),
            }
        )

    def run(batches):
        st = FakeState()
        last = None
        for b in batches:
            (last,) = list(_update_user_sessions((7,), iter([pdf(b)]), st))
        return sorted(
            zip(last["session_id"], last["n_events"], last["span_us"])
        )

    in_order = run([events[:2], events[2:3], events[3:]])
    reversed_order = run([events[3:], events[2:3], events[:2]])
    interleaved = run([[events[1], events[3]], [events[0], events[2]]])
    expect = [(1, 2, 1_000_000), (2, 1, 0), (3, 1, 0)]
    assert in_order == expect
    assert reversed_order == expect
    assert interleaved == expect


def test_capped_attribution_bounds_per_key_output(spark):
    """v09's guard contract: output is a subset of the uncapped
    attribution result and no user contributes more than k distinct
    clicks or purchases — the k*k per-key output bound that makes the
    stream-stream join safe under hot-key mass concentration."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.streaming.events import (
        run_capped_attribution_stream,
    )
    from tests.conftest import SF_SMOKE

    k = 2
    out = run_capped_attribution_stream(spark, SF_SMOKE, k=k)
    per_user = out.groupBy("user_id").agg(
        F.countDistinct("click_id").alias("nc"),
        F.countDistinct("purchase_id").alias("np"),
    )
    viol = per_user.where(
        (F.col("nc") > k) | (F.col("np") > k)
    ).count()
    assert viol == 0

    # subset of the uncapped batch interval join
    from gov_ec_pipeline_etl_spark.plans.util import T

    ev = T(spark, SF_SMOKE, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    full = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 24 HOURS")),
    ).select("click_id", "purchase_id")
    extra = out.select("click_id", "purchase_id").exceptAll(full).count()
    assert extra == 0


def _st03(spark):
    from gov_ec_pipeline_etl_spark.plans import all_queries

    return all_queries()["st03_streaming_dedup"].spark(spark, SF_SMOKE)


def _oracle_rows(name: str) -> int:
    from gov_ec_pipeline_etl_spark.oracle import duckdb_connection
    from gov_ec_pipeline_etl_spark.plans import all_queries
    from gov_ec_pipeline_etl_spark.plans.registry import oracle_text

    con = duckdb_connection(SF_SMOKE)
    try:
        sql = oracle_text(all_queries()[name], SF_SMOKE)
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    finally:
        con.close()


def test_replay_leaves_no_view_and_no_staged_dir(spark, monkeypatch):
    """A replay drops its memory sink's temp view and deletes the files
    it read; the returned frame still holds every result row."""
    from gov_ec_pipeline_etl_spark.streaming import staging

    made: list[str] = []
    fresh = staging.session_staging_dir

    def recording(prefix):
        made.append(fresh(prefix))
        return made[-1]

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    monkeypatch.setattr(staging, "session_staging_dir", recording)
    before = views()
    out = _st03(spark)
    assert made and not any(os.path.exists(p) for p in made)
    assert views() == before
    assert out.count() == _oracle_rows("st03_streaming_dedup")


def test_replay_width_never_exceeds_session(spark):
    from gov_ec_pipeline_etl_spark.streaming.staging import (
        PANDAS_ROWS_PER_STORE,
        WIDTH,
        replay_width,
    )

    narrow = spark.newSession()
    narrow.conf.set(WIDTH, "2")
    assert replay_width(narrow, 1_000_000) == 2
    narrow.conf.set(WIDTH, "64")
    assert replay_width(narrow, 1_000_000) == 20
    assert replay_width(narrow, 4_000) == 1
    assert replay_width(narrow, 0) == 1
    assert replay_width(narrow, 100_000, PANDAS_ROWS_PER_STORE) == 4
    assert replay_width(narrow, 10_000, PANDAS_ROWS_PER_STORE) == 1


def test_replay_restores_caller_conf(spark):
    """The runner scopes width and no-data batches to the stream; the
    caller's session reads the same values afterwards, set or unset."""
    from gov_ec_pipeline_etl_spark.streaming.staging import NO_DATA_BATCHES, WIDTH

    s = spark.newSession()
    s.conf.set(WIDTH, "7")
    s.conf.unset(NO_DATA_BATCHES)
    before = {k: s.conf.get(k, None) for k in (WIDTH, NO_DATA_BATCHES)}
    assert before == {WIDTH: "7", NO_DATA_BATCHES: None}
    _st03(s).count()
    assert {k: s.conf.get(k, None) for k in (WIDTH, NO_DATA_BATCHES)} == before
    s.conf.set(NO_DATA_BATCHES, "true")
    _st03(s).count()
    assert s.conf.get(WIDTH) == "7" and s.conf.get(NO_DATA_BATCHES) == "true"


def test_replay_cleans_up_when_start_fails(spark):
    """A frame rejected at ``start()`` still has its staged input deleted
    and the caller's conf restored."""
    import pytest
    from pyspark.errors import AnalysisException

    from gov_ec_pipeline_etl_spark.streaming.staging import (
        NO_DATA_BATCHES,
        WIDTH,
        replay,
        stage,
    )

    s = spark.newSession()
    s.conf.set(WIDTH, "7")
    before = {k: s.conf.get(k, None) for k in (WIDTH, NO_DATA_BATCHES)}
    stream, staged = stage(s.range(10).withColumnRenamed("id", "k"), "start_fails")
    # a streaming aggregation without a watermark cannot run in append mode
    with pytest.raises(AnalysisException):
        replay(stream.groupBy("k").count(), "append", [staged])
    assert not os.path.exists(staged)
    assert {k: s.conf.get(k, None) for k in (WIDTH, NO_DATA_BATCHES)} == before


def test_st03_runs_one_micro_batch_on_one_store(spark, monkeypatch):
    """The replay of 2x the smoke events runs a single micro-batch (no
    eviction-only batch) with state sized to its input: one store."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    queries = []
    start = DataStreamWriter.start

    def recording(self, *a, **k):
        queries.append(start(self, *a, **k))
        return queries[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording)
    _st03(spark)
    (q,) = queries
    progress = q.recentProgress
    assert len(progress) == 1
    ops = progress[0].stateOperators
    assert ops and all(op.numShufflePartitions == 1 for op in ops)


def test_memory_sink_has_one_site():
    """Every stream replay goes through the one runner in staging.py."""
    import gov_ec_pipeline_etl_spark as pkg

    root = os.path.dirname(pkg.__file__)
    hits = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f)) as fh:
                    hits += [f] * fh.read().count('format("memory")')
    assert hits == ["staging.py"]

