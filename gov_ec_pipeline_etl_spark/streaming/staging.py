"""Staging and the one write loop for finite stream replays.

Every ``run_*`` streaming harness writes its input under a per-process
staging root (:func:`stage`), reads it back as a parquet file-source
stream, and runs it once with Trigger.AvailableNow through :func:`drain`,
which writes each micro-batch (or a per-batch operator's result) into a
parquet directory under the same root. Stateful replays go through
:func:`replay`, which sizes state to the input around the same loop.
``drain`` deletes the staged input and its checkpoint once the stream has
terminated; the result directory and the root itself are removed at
interpreter exit, so a SIGKILLed run leaks one root, reclaimed by the OS
tempdir policy.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.caching import released
from gov_ec_pipeline_etl_spark.tables import parquet_rows

_ROOT: str | None = None

WIDTH = "spark.sql.shuffle.partitions"
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
# micro-batches of a split replay: enough for state (or per-batch output)
# to cross batch boundaries
BATCHES = 3
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


def stage(frame: DataFrame, prefix: str, batches: int = 1) -> tuple[DataFrame, str]:
    """Write ``frame`` as a replay's input files under a fresh staging
    directory; return the file-source stream over them and the directory,
    for :func:`drain` to delete. With ``batches`` > 1 the input is split
    into that many files, read one per micro-batch."""
    path = session_staging_dir(prefix)
    reader = frame.sparkSession.readStream.schema(frame.schema)
    if batches > 1:
        frame = frame.repartition(batches)
        reader = reader.option("maxFilesPerTrigger", 1)
    frame.write.parquet(path)
    return reader.parquet(path), path


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


@contextlib.contextmanager
def _scoped(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the block; restore the caller's
    values after it, also when it raises (unsetting what was unset)."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def drain(
    frame: DataFrame,
    mode: str,
    staged: list[str],
    each: Callable[[DataFrame], DataFrame] | None = None,
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run the streaming ``frame`` once over all its available input
    (Trigger.AvailableNow) in output ``mode`` and return its result, read
    back from a parquet directory under the staging root.

    Each micro-batch, or ``each(batch)`` when given, is written into that
    directory: appended in append and update mode (update mode keeps
    every emission of a key, one per batch), replacing it in complete
    mode. Whatever ``each`` persisted is released after the write. The
    checkpoint lives under the staging root too; it and the ``staged``
    directories the stream reads are deleted once the run has ended,
    whether it succeeded or not. ``confs`` are set on the caller's session
    only for the length of ``start()`` (see :func:`replay`).

    An empty input staged by :func:`stage` is still one file, so it runs
    one empty micro-batch, whose write leaves a file with the result's
    columns: the read-back is an empty frame, not a missing directory.
    """
    spark = frame.sparkSession
    out, ckpt = session_staging_dir("out"), session_staging_dir("ckpt")
    write_mode = "overwrite" if mode == "complete" else "append"
    # the schema the result files carry, kept from the writes: reading it
    # back from a footer would cost a Spark job
    written = []

    def write(batch: DataFrame, _batch_id: int) -> None:
        with released(batch if each is None else each(batch)) as result:
            result.write.mode(write_mode).parquet(out)
            written[:] = [result.schema]

    try:
        with _scoped(spark, confs or {}):
            q = (
                frame.writeStream.foreachBatch(write)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
    finally:
        for path in [*staged, ckpt]:
            shutil.rmtree(path, ignore_errors=True)
    return spark.read.schema(written[0]).parquet(out)


def replay(
    frame: DataFrame,
    mode: str,
    staged: list[str],
    rows_per_store: int = ROWS_PER_STORE,
) -> DataFrame:
    """Run the stateful streaming ``frame`` through :func:`drain` with its
    state sized to the input: the footer row count of the ``staged``
    directories (from :func:`stage`) sets the state stores
    (:func:`replay_width` with ``rows_per_store``).

    The stream runs without no-data micro-batches. Such a batch only
    advances the watermark: it evicts state (which the checkpoint,
    deleted after the run, throws away) and releases rows whose output
    waits for the watermark. So this is correct only for a ``frame``
    whose output never waits for a watermark advance: complete mode,
    update mode without a watermark, watermarked dedup (emits first
    occurrences at once) and inner stream-stream joins (emit on match).
    An append-mode windowed aggregation or an outer stream-stream join
    must not use this runner.

    Both confs are set on the caller's session only for the length of
    ``start()`` (analysis, sink set-up): StreamExecution clones the
    session in its constructor and every micro-batch reads width and
    no-data setting from that clone, so the caller's values, restored as
    soon as ``start()`` returns or raises, never reach the running stream.
    A query started concurrently on the caller's session during that
    window would see the scoped values. Stateless per-batch harnesses call
    :func:`drain` without them: the width would become the starting
    shuffle width of every job their operator runs on a batch.
    """
    spark = frame.sparkSession
    n_rows = sum(parquet_rows(path) for path in staged)
    confs = {
        WIDTH: str(replay_width(spark, n_rows, rows_per_store)),
        NO_DATA_BATCHES: "false",
    }
    return drain(frame, mode, staged, confs=confs)
