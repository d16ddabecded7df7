"""Stream inputs and the one write loop for finite stream replays.

A replay streams parquet files with Trigger.AvailableNow through
:func:`drain`, which writes each micro-batch (or a per-batch operator's
result) into a parquet directory under a per-process staging root;
:func:`replay` sizes state to the input around the same loop. Inputs:

- in place: st01, st03, v01, the sliding-window and the enrichment
  harnesses replay an unmodified table in one micro-batch, straight from
  its own parquet file (:func:`table_stream`); nothing is copied;
- staged: a derived frame (v09's capped sides) or a replay split into
  micro-batches (st04, v06, the ingest harnesses v02–v05, v07, v08) is
  first written under the staging root (:func:`stage`).

``drain`` deletes its checkpoint and the inputs under the staging root
once the stream has ended; the result and the root go at interpreter
exit (a SIGKILLed run leaks one root, left to the OS tempdir policy).
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
from gov_ec_pipeline_etl_spark.plans.util import allow_nanos, micros_ts
from gov_ec_pipeline_etl_spark.tables import parquet_rows, read_table, table_path

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


def table_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, str]:
    """Stream the canonical table ``name`` from its own parquet file (one
    micro-batch), normalized as ``T()`` reads it; return the stream and
    the file's path, for :func:`replay` to size state by."""
    path = table_path(sf_dir, name)
    allow_nanos(spark, path)
    reader = spark.readStream.schema(read_table(spark, sf_dir, name).schema)
    if os.path.isdir(path):
        return micros_ts(reader.parquet(path)), path
    # a file source lists a directory: the file's own, filtered to the file
    reader = reader.option("pathGlobFilter", os.path.basename(path))
    return micros_ts(reader.parquet(os.path.dirname(path))), path


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
    inputs: list[str],
    each: Callable[[DataFrame], DataFrame] | None = None,
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run the streaming ``frame`` once over all its available input
    (Trigger.AvailableNow) in output ``mode`` and return its result, read
    back from a parquet directory under the staging root.

    Each micro-batch, or ``each(batch)`` when given, is written into that
    directory: appended in append and update mode (update mode keeps
    every emission of a key, one per batch), replacing it in complete
    mode. Whatever ``each`` staged (``caching.stage``) is released after
    the write: the batch runs on the stream's own session, so that frees
    the batch's stages only. The checkpoint, under the staging root too,
    and those ``inputs`` that lie under it are deleted once the run has
    ended, succeeded or not; a table streamed in place is never touched.
    ``confs`` are set on the caller's session only for the length of
    ``start()`` (see :func:`replay`).

    An empty input staged by :func:`stage` is still one file, so it runs
    one empty micro-batch, whose write leaves a file with the result's
    columns: the read-back is an empty frame, not a missing directory."""
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
        for path in [*inputs, ckpt]:
            if os.path.commonpath([_ROOT, os.path.abspath(path)]) == _ROOT:
                shutil.rmtree(path, ignore_errors=True)
    return spark.read.schema(written[0]).parquet(out)


def replay(
    frame: DataFrame,
    mode: str,
    inputs: list[str],
    rows_per_store: int = ROWS_PER_STORE,
) -> DataFrame:
    """Run the stateful streaming ``frame`` through :func:`drain` with its
    state sized to the footer row count of the ``inputs`` it streams (a
    path listed twice counts twice) by :func:`replay_width`.

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
    n_rows = sum(parquet_rows(path) for path in inputs)
    confs = {
        WIDTH: str(replay_width(spark, n_rows, rows_per_store)),
        NO_DATA_BATCHES: "false",
    }
    return drain(frame, mode, inputs, confs=confs)
