"""One materialization primitive: :func:`stage`.

An intermediate that several consumers read (both sides of a
self-join, every round of an iterative loop, several aggregates over
one expensive kernel) is staged: ``stage(df)`` marks ``df`` for caching
and returns it. It runs no job. The cache fills during the first action
that reads the frame, so building or explaining a plan never launches
one, and the query keeps one lazy plan.

Spark's cache is session-scoped and outlives the call that staged it,
so :func:`stage` records each frame under its ``sparkSession``. The
consumer of a result releases every stage recorded for the result's
session with :func:`unpersist_inputs`, or wraps its action in
:func:`released`. A foreachBatch micro-batch runs on the stream's
cloned session (a session object of its own), so releasing a batch's
result frees only what that batch staged; with nothing staged the
release makes no Spark call.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

_STAGED: dict[SparkSession, list[DataFrame]] = {}


def stage(df: DataFrame) -> DataFrame:
    """Persist ``df`` lazily and record it under its session (returns it)."""
    _STAGED.setdefault(df.sparkSession, []).append(df.persist())
    return df


def unpersist_inputs(df: DataFrame) -> None:
    """Release every stage recorded for ``df``'s session (idempotent)."""
    for staged in _STAGED.pop(df.sparkSession, []):
        with contextlib.suppress(Exception):
            staged.unpersist()


@contextlib.contextmanager
def released(df: DataFrame) -> Iterator[DataFrame]:
    """``with released(op(...)) as result: result.collect()`` — consume a
    result and release the stages of its session on exit."""
    try:
        yield df
    finally:
        unpersist_inputs(df)
