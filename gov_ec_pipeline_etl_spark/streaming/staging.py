"""Staging and the one runner for finite stream replays.

Every ``run_*`` streaming harness writes its input under a per-process
staging root, reads it back as a parquet file-source stream, and hands the
stream to :func:`replay`, which runs it once with Trigger.AvailableNow into
a memory sink. ``replay`` deletes the staged directories once the stream
has terminated; the root itself is removed at interpreter exit, so a
SIGKILLed run leaks one root, reclaimed by the OS tempdir policy.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.tables import parquet_rows

_ROOT: str | None = None

WIDTH = "spark.sql.shuffle.partitions"
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
ROWS_PER_STORE = 50_000
# A pandas stateful operator (applyInPandasWithState) pays Python work per
# row, so its replays need task parallelism at fewer rows. On a 4-core
# host st04 and v06 over 100 000 events had the lowest wall on 4 stores
# (less CPU than on 8, half the wall of 1); over 10 000 events 1 store
# cost the least CPU, within 20 % of the best wall.
PANDAS_ROWS_PER_STORE = 25_000


def session_staging_dir(prefix: str) -> str:
    """Return a fresh unique path (not yet created) under the
    per-process staging root; the root is rmtree'd at exit."""
    global _ROOT
    if _ROOT is None:
        _ROOT = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_staging_{os.getpid()}_{uuid.uuid4().hex[:6]}",
        )
        os.makedirs(_ROOT, exist_ok=True)
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return os.path.join(_ROOT, f"{prefix}_{uuid.uuid4().hex[:8]}")


def stage(frame: DataFrame, prefix: str, **options) -> tuple[DataFrame, str]:
    """Write ``frame`` as a replay's input files under a fresh staging
    directory; return the file-source stream over them (``options`` go to
    the stream reader) and the directory, for :func:`replay` to delete."""
    path = session_staging_dir(prefix)
    frame.write.parquet(path)
    spark = frame.sparkSession
    return spark.readStream.schema(frame.schema).options(**options).parquet(path), path


def replay_width(
    spark: SparkSession, n_rows: int, rows_per_store: int = ROWS_PER_STORE
) -> int:
    """State stores per stateful operator for a replay of ``n_rows``: one
    per ``rows_per_store`` input rows, never more than the session width.

    Each stateful operator opens, commits and maintains one store per
    shuffle partition per micro-batch, which is fixed cost when the keyed
    state is small; a session sized for batch jobs would spend most of a
    small replay on it. An explicitly narrower session width still wins."""
    return min(int(spark.conf.get(WIDTH)), max(1, -(-int(n_rows) // rows_per_store)))


def replay(
    frame: DataFrame,
    mode: str,
    staged: list[str],
    rows_per_store: int = ROWS_PER_STORE,
) -> DataFrame:
    """Run the streaming ``frame`` once over all its available input
    (Trigger.AvailableNow) into a memory sink in output ``mode``; return
    the result. ``staged`` are the directories the stream reads (from
    :func:`stage`): their footer row count sizes state
    (:func:`replay_width` with ``rows_per_store``), and they are deleted
    once the run has ended, whether it succeeded or not.

    The stream runs without no-data micro-batches. Such a batch only
    advances the watermark: it evicts state (which the temporary
    checkpoint throws away) and releases rows whose output waits for the
    watermark. So this is correct only for a ``frame`` whose output never
    waits for a watermark advance: complete mode, update mode without a
    watermark, watermarked dedup (emits first occurrences at once) and
    inner stream-stream joins (emit on match). An append-mode windowed
    aggregation or an outer stream-stream join must not use this runner.

    Both confs are set on the caller's session only for the length of
    ``start()`` (analysis, sink set-up, the sink's temp view):
    StreamExecution clones the session in its constructor and every
    micro-batch reads width and no-data setting from that clone, so the
    caller's values, restored as soon as ``start()`` returns or raises,
    never reach the running stream. A query started concurrently on the
    caller's session during that window would see the scoped values.

    The sink's temp view is dropped at once: the returned frame already
    holds the resolved plan over the sink's rows, so nothing outlives it
    in the session catalog.
    """
    spark = frame.sparkSession
    name = f"replay_{uuid.uuid4().hex}"
    n_rows = sum(parquet_rows(path) for path in staged)
    scoped = {
        WIDTH: str(replay_width(spark, n_rows, rows_per_store)),
        NO_DATA_BATCHES: "false",
    }
    saved = {k: spark.conf.get(k, None) for k in scoped}
    try:
        try:
            for k, v in scoped.items():
                spark.conf.set(k, v)
            q = (
                frame.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        for path in staged:
            shutil.rmtree(path, ignore_errors=True)
