"""Keyed batch upsert (SURVEY.md §2.13 W2).

The reference upserted row-dicts over HTTP in shrinking batches
(load.py:387-441) — a workaround for a row-oriented REST sink. The
engine-native equivalent is a set-based MERGE:

- **Production path (transactional)**: Delta Lake ``MERGE INTO target
  USING updates ON target.key = updates.key WHEN MATCHED THEN UPDATE
  WHEN NOT MATCHED THEN INSERT`` — one shuffle on the key, ACID, scales
  to any size. (Delta isn't bundled in this container, so that path is
  gated.) Database targets get the same semantics through the DB-API /
  JDBC executor in ``sinks.merge_sql`` (staging + ``INSERT … ON
  CONFLICT (key) DO UPDATE`` run by the database) — gated against
  SQLite in tests/test_merge_sink.py.
- **Bundled parquet path**: MERGE semantics on a parquet table.
  Partitioned targets take the PARTITION-SCOPED path: semi-derive the
  partitions the updates touch, anti-join matched keys within only
  those partitions, and rewrite only those partition directories via
  dynamic partition overwrite (a write option; the session conf is never
  touched) — untouched partitions are neither read
  nor rewritten, so a weekly load is O(touched), not O(table), at
  100 TB. Unpartitioned targets use snapshot-rewrite with an atomic
  pointer swap. Both are idempotent by construction (same input twice →
  same state), which is the property the reference's batching/retry
  machinery existed to protect.

Partition-scoped merge REQUIRES the partition columns to be stable
functions of the merge key (in the reference they are business-key
components — ano / codigo_provincia, sql/010:60-70 — so an existing
key can never change partition). If updates may move a key across
partitions, pass ``allow_partition_move=True`` to fall back to the
full-table merge.

Every write here — the full and the scoped merge, compaction, keyed
delete and retention — publishes through ``sinks.snapshot``, the one
protocol the stored indexes and the IVM store use too: a fresh
``snapshot_<12 hex>`` directory, a compare-and-swap of the ``_CURRENT``
pointer under the ``_WRITER_LOCK`` flock, and GC deferred one
generation (the previous snapshot survives the swap, so a reader that
resolved the old pointer can finish its scan; the NEXT publish deletes
it). A write that raises leaves no snapshot directory behind.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import functools
import operator
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.sinks import snapshot
from gov_ec_pipeline_etl_spark.sinks.snapshot import LOCK as _LOCK  # noqa: F401
from gov_ec_pipeline_etl_spark.sinks.snapshot import ConcurrentWriterError  # noqa: F401

_current_snapshot = snapshot.current
_swap_pointer = snapshot.swap_pointer


def _writer(target_dir: str):
    """The sink's writer: the snapshot protocol, with the pointer swap
    looked up in this module at call time (so it can be failed here,
    between a snapshot's write and its publish)."""
    return snapshot.writer(target_dir, swap=_swap_pointer)


def read_table(spark: SparkSession, target_dir: str) -> DataFrame | None:
    snap = _current_snapshot(target_dir)
    return spark.read.parquet(snap) if snap else None


def _partition_predicate(touched: list, partition_by: list[str]) -> F.Column:
    """OR-of-ANDs selecting the given partition tuples (rows keyed by
    the partition columns). eqNullSafe so a null partition value selects
    its partition's rows rather than evaluating to null."""
    return functools.reduce(
        operator.or_,
        [
            functools.reduce(
                operator.and_,
                [F.col(c).eqNullSafe(F.lit(row[c])) for c in partition_by],
            )
            for row in touched
        ],
    )


def _touched_partition_filter(
    updates: DataFrame, partition_by: list[str]
) -> tuple[F.Column, int]:
    """(predicate, n_touched) over the distinct partition tuples present
    in the updates. Partition tuples are driver-scale metadata (bounded
    by the partition count, not the data), like any catalog pruning
    list."""
    touched = updates.select(*partition_by).distinct().collect()
    return _partition_predicate(touched, partition_by), len(touched)


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    target_dir: str,
    key: str = "surrogate_id",
    partition_by: list[str] | None = None,
    allow_partition_move: bool = False,
    verify_no_partition_move: bool = False,
) -> dict[str, int]:
    """MERGE semantics on a parquet table. Returns metrics.

    Updates must be unique on ``key`` (the contract dedup guarantees it);
    enforced here defensively with a keep-first dropDuplicates.

    ``partition_by`` mirrors the reference target's index intent
    (date/province composite indexes, sql/010:60-70): partitioning the
    table by e.g. ``ano`` / ``codigo_provincia`` gives Spark static +
    dynamic partition pruning on exactly the predicates those indexes
    served, and scopes the merge itself to the touched partitions.

    ``verify_no_partition_move`` audits the partition-scoped path's
    precondition (partition columns are stable functions of the key):
    it counts key matches across the WHOLE table — a key-column-only
    scan, column-pruned at the parquet reader, so it reads one thin
    column not the table — and raises ``PartitionMoveError`` if any
    update key matches an existing row outside the touched partitions
    (which the scoped merge would silently duplicate). Off by default:
    the audit is O(table keys) per load where the merge itself is
    O(touched); run it on a schedule, or permanently if a thin key
    column read is acceptable per load."""
    # The update batch is read several times (count, touched-partition
    # derivation, match count, the merge itself); persist it so an
    # expensive upstream lineage — the whole contract pipeline feeds
    # straight in here — is computed once, not per pass.
    updates = updates.dropDuplicates([key]).persist()
    try:
        with _writer(target_dir) as w:
            return _upsert_parquet(
                spark,
                updates,
                w,
                key,
                partition_by,
                allow_partition_move,
                verify_no_partition_move,
            )
    finally:
        updates.unpersist()


class PartitionMoveError(RuntimeError):
    """An update batch matched existing keys outside the partitions it
    touches: the partition columns are NOT a stable function of the key,
    and a partition-scoped merge would leave stale duplicates. Re-run
    with allow_partition_move=True (full-table merge) or fix upstream."""


def _upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    w: snapshot.Writer,
    key: str,
    partition_by: list[str] | None,
    allow_partition_move: bool,
    verify_no_partition_move: bool,
) -> dict[str, int]:
    # the snapshot this merge READS, under the lock: the CAS expectation
    current = spark.read.parquet(w.current) if w.current else None
    n_updates = updates.count()  # also materializes the persisted batch

    if n_updates == 0:
        # nothing to merge: leave the table untouched (an empty batch
        # must not rewrite snapshots or derive an empty partition
        # filter; on a nonexistent table it must not create a
        # zero-file snapshot, which parquet cannot re-read a schema
        # from — found by the merge-convergence property test)
        return {"rows_upserted": 0, "rows_matched": 0, "rows_inserted": 0}

    # the partition-scoped merge hard-links partition DIRECTORIES; the
    # empty-table fallback snapshot (written when a delete/retention
    # empties every partition) is a single unpartitioned file, so a
    # scoped merge would link that root file next to new partition dirs
    # — a mixed layout parquet partition discovery rejects. Route such
    # snapshots through the full rewrite (the table is empty; it costs
    # the same) which publishes a properly partitioned snapshot again.
    if (
        current is not None
        and partition_by
        and not allow_partition_move
        and _has_partition_dirs(w.current)
    ):
        metrics = _merge_touched_partitions(
            spark, current, updates, w, key, partition_by, n_updates
        )
        if verify_no_partition_move:
            # count against the PRE-merge table state (its snapshot is
            # retained by deferred GC) so moved keys are still visible
            n_total_matched = current.join(
                updates.select(key), key, "left_semi"
            ).count()
            metrics["rows_matched_outside_touched"] = (
                n_total_matched - metrics["rows_matched"]
            )
            if n_total_matched > metrics["rows_matched"]:
                raise PartitionMoveError(
                    f"{n_total_matched - metrics['rows_matched']} update key(s) "
                    "matched rows outside the touched partitions; the scoped "
                    "merge duplicated them. The table still holds both copies "
                    "— re-merge with allow_partition_move=True to repair."
                )
        return metrics

    if current is None:
        merged = updates
        n_matched = 0
    else:
        n_matched = current.join(updates.select(key), key, "left_semi").count()
        merged = current.join(
            updates.select(key), key, "left_anti"
        ).unionByName(updates, allowMissingColumns=True)

    with w.publish() as snap_path:
        writer = merged.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(snap_path)

    return {
        "rows_upserted": n_updates,
        "rows_matched": n_matched,
        "rows_inserted": n_updates - n_matched,
    }


def _merge_touched_partitions(
    spark: SparkSession,
    current: DataFrame,
    updates: DataFrame,
    w: snapshot.Writer,
    key: str,
    partition_by: list[str],
    n_updates: int,
) -> dict[str, int]:
    """Partition-scoped MERGE: read + rewrite ONLY the partitions the
    updates touch; untouched partition directories are never scanned
    (partition pruning on the touched-tuples predicate) and never
    rewritten. O(touched) I/O per load.

    Crash safety matches the unpartitioned path: the merge lands in a
    FRESH snapshot directory — untouched partition directories are
    hard-linked from the current snapshot (a metadata-only O(#files)
    operation, no data copied; the local-FS analogue of a table
    format's manifest re-pointing, which Delta/Iceberg provide on
    object stores) and the touched partitions are then replaced there
    via dynamic partition overwrite (a write option, never the session
    conf). The pointer swaps only after the
    write commits, so a crash at ANY point leaves the current snapshot
    and pointer intact, and concurrent readers never observe a
    partition mid-replacement. Deleting superseded files during
    deferred GC only drops links; inodes shared with live snapshots
    survive."""
    pred, n_touched = _touched_partition_filter(updates, partition_by)
    cur_touched = current.where(pred)
    n_matched = cur_touched.join(updates.select(key), key, "left_semi").count()
    merged = cur_touched.join(
        updates.select(key), key, "left_anti"
    ).unionByName(updates, allowMissingColumns=True)

    with w.publish(link=True) as snap_path:
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*partition_by).parquet(snap_path)

    return {
        "rows_upserted": n_updates,
        "rows_matched": n_matched,
        "rows_inserted": n_updates - n_matched,
        "partitions_rewritten": n_touched,
    }


def compact_partitions(
    spark: SparkSession,
    target_dir: str,
    partition_by: list[str] | None = None,
    files_per_partition: int = 1,
) -> dict[str, int]:
    """Compact the current snapshot's small files (maintenance job).

    Repeated partition-scoped merges append one file set per load to
    each touched partition; at scale the small-file count, not the
    bytes, becomes the scan bottleneck. Rewrites the CURRENT snapshot
    into a new one with ``files_per_partition`` files per partition
    directory and swaps the pointer — the same deferred-GC protocol as
    the merge itself. Run it on the cadence small files accumulate
    (e.g. weekly after N daily loads).

    For >1 file the split happens in the WRITER via maxRecordsPerFile
    sized so the largest partition yields ``files_per_partition`` files
    (smaller partitions proportionally fewer). A salt/repartition
    scheme is deliberately NOT used: hash repartition on the partition
    columns lands each tuple wholly in one task (always one file), and
    task-count salting is defeated by AQE coalescing small shuffle
    partitions. For an unpartitioned table ``files_per_partition`` is
    the total file count (a coalesce to that many tasks — inherent to
    producing exactly N files).
    """
    if _current_snapshot(target_dir) is None:
        # nonexistent table: nothing to compact (and no directory to
        # create a writer lock in)
        return {"files_before": 0, "files_after": 0}
    with _writer(target_dir) as w:
        if w.current is None or not _has_data_files(w.current):
            # a zero-file snapshot (an index whose every row was cut)
            # has no schema to read back and nothing to compact
            return {"files_before": 0, "files_after": 0}
        return _compact_partitions(spark, w, partition_by, files_per_partition)


def _compact_partitions(
    spark: SparkSession,
    w: snapshot.Writer,
    partition_by: list[str] | None,
    files_per_partition: int,
) -> dict[str, int]:
    current = spark.read.parquet(w.current)
    files_before = len(current.inputFiles())
    if current.isEmpty():
        # an emptied table (delete-all / full retention) has nothing to
        # compact — and rewriting 0 rows would emit ZERO part files
        # (coalesce/repartition of an empty scan schedules no write
        # tasks), publishing an unreadable snapshot
        return {"files_before": files_before, "files_after": files_before}
    max_records = None
    if partition_by:
        compacted = current.repartition(*partition_by)
        if files_per_partition > 1:
            # per-partition row counts read parquet footers only (no
            # data columns), so this aggregate is metadata-cheap
            biggest = (
                current.groupBy(*partition_by)
                .count()
                .agg(F.max("count"))
                .first()[0]
            )
            max_records = -(-int(biggest) // files_per_partition)  # ceil
    else:
        compacted = current.coalesce(files_per_partition)
    with w.publish() as snap_path:
        writer = compacted.write.mode("overwrite")
        if max_records is not None:
            writer = writer.option("maxRecordsPerFile", max_records)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(snap_path)
    files_after = len(spark.read.parquet(snap_path).inputFiles())
    return {"files_before": files_before, "files_after": files_after}


def streaming_upsert_sink(
    stream_df,
    target_dir: str,
    key: str = "surrogate_id",
    partition_by: list[str] | None = None,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    allow_partition_move: bool = False,
    verify_no_partition_move: bool = False,
):
    """Streaming CDC into the keyed table: ``foreachBatch`` applies each
    micro-batch through the same idempotent MERGE as batch loads, so a
    replayed batch (at-least-once delivery after failure) converges to
    the same table state — the streaming face of reference W2.
    ``allow_partition_move`` / ``verify_no_partition_move`` pass through
    to the merge (streams whose keys can change partition need one of
    them, same as batch).

    Returns the started StreamingQuery (caller awaits termination)."""

    def _merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        upsert_parquet(
            batch_df.sparkSession,
            batch_df,
            target_dir,
            key=key,
            partition_by=partition_by,
            allow_partition_move=allow_partition_move,
            verify_no_partition_move=verify_no_partition_move,
        )

    writer = stream_df.writeStream.foreachBatch(_merge_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- snapshot inspection / CDC diff ---------------------------------------


def snapshot_history(target_dir: str) -> list[dict]:
    """The table's on-disk snapshot inventory, newest first.

    GC is deferred one generation, so a merged table normally shows two
    entries: the CURRENT snapshot (the pointer target) and the PREVIOUS
    one kept for in-flight readers — which is exactly the pair
    ``snapshot_changes`` diffs. Reads only directory metadata."""
    cur = _current_snapshot(target_dir)
    rows = []
    for name in sorted(os.listdir(target_dir)):
        p = os.path.join(target_dir, name)
        if name.startswith("snapshot_") and os.path.isdir(p):
            rows.append(
                {
                    "snapshot": name,
                    "current": os.path.basename(cur or "") == name,
                    "mtime_utc": _dt.datetime.fromtimestamp(
                        os.path.getmtime(p), tz=_dt.timezone.utc
                    ).isoformat(),
                }
            )
    rows.sort(key=lambda r: r["mtime_utc"], reverse=True)
    return rows


def snapshot_changes(
    spark: SparkSession, target_dir: str, key: str = "surrogate_id"
) -> DataFrame:
    """CDC-style diff of the last merge: (key, change_type) for every
    row that differs between the PREVIOUS snapshot and the CURRENT one
    — ``inserted`` / ``deleted`` / ``changed``. Unchanged rows are not
    emitted, so the result is delta-sized, not table-sized.

    Row equality is a null-safe full-width comparison via md5 of the
    name-sorted struct JSON (both sides share one schema — the merge
    wrote them). With no previous snapshot (first load, or GC'd), every
    current row reports ``inserted``. Scale shape: ONE key-hash join of
    two key+digest projections; the digests are computed in the scan
    projection, so the shuffle carries (key, 32-byte hex), never data
    columns — the reference keeps a load-log TABLE (etl/load.py run
    ledger) where this derives the same answer from the storage layout
    itself."""
    cur = _current_snapshot(target_dir)
    if cur is None:
        raise FileNotFoundError(f"no published snapshot under {target_dir}")
    # the previous side comes from the pointer's recorded LINEAGE, never
    # from directory listing/mtime: a hard-killed merge can leave a
    # half-written stray snapshot dir (its rmtree-on-exception never
    # ran) that is newer than the real predecessor, and diffing against
    # it would fabricate inserted/changed rows in the post-mortem tool
    prev_name = snapshot.pointer(target_dir).get("previous")
    prev = []
    if prev_name:
        p = os.path.join(target_dir, prev_name)
        if os.path.isdir(p):
            prev = [p]
    cur_df = spark.read.parquet(cur)
    digest = F.md5(
        F.to_json(F.struct(*[F.col(c) for c in sorted(cur_df.columns)]))
    )
    cur_kd = cur_df.select(F.col(key).alias("k"), digest.alias("d_cur"))
    if not prev:
        return cur_kd.select(
            F.col("k").alias(key), F.lit("inserted").alias("change_type")
        )
    prev_df = spark.read.schema(cur_df.schema).parquet(prev[0])
    prev_kd = prev_df.select(F.col(key).alias("k"), digest.alias("d_prev"))
    j = cur_kd.join(prev_kd, "k", "full_outer")
    return (
        j.withColumn(
            "change_type",
            F.when(F.col("d_prev").isNull(), "inserted")
            .when(F.col("d_cur").isNull(), "deleted")
            .when(F.col("d_cur") != F.col("d_prev"), "changed")
            .otherwise(None),
        )
        .where(F.col("change_type").isNotNull())
        .select(F.col("k").alias(key), "change_type")
    )


_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_dirname(col: str, value) -> str:
    """``col=value`` as Spark's partitioned writer lays it out
    (ExternalCatalogUtils semantics): null → __HIVE_DEFAULT_PARTITION__,
    booleans lowercase (``true``/``false``), dates ISO. Spark
    URL-escapes special characters in partition VALUES; the directory
    surgery in delete_keys/drop_partitions renders names with plain
    str(), so values needing escaping are rejected loudly rather than
    silently missing their directory (for such values use the
    unpartitioned delete path, which never touches directory names)."""
    if value is None:
        return f"{col}={_HIVE_DEFAULT_PARTITION}"
    if isinstance(value, bool):
        # defensive only: partition-type INFERENCE never yields
        # booleans (read-back gives the string 'true'/'false', which
        # the str() path below renders correctly) — this branch covers
        # values collected from a schema-pinned read, where Python
        # bools would otherwise render 'True' and miss the directory
        return f"{col}={'true' if value else 'false'}"
    s = str(value)
    if s == "" or any(
        ch in s for ch in "%/\\:=#?{}[]^`\"'<>|* \t\n"
    ):
        raise ValueError(
            f"partition value {value!r} for {col!r} needs filesystem "
            "escaping; partition-scoped directory surgery would miss "
            "its dir — use the unpartitioned path (no partition_by)"
        )
    return f"{col}={s}"


def _has_data_files(path: str) -> bool:
    """True if any parquet data file exists under ``path`` (recursively;
    ``_SUCCESS``/dot-files don't count). A snapshot with zero data files
    cannot be re-read — parquet has no schema to infer from."""
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                return True
    return False


def _has_partition_dirs(path: str) -> bool:
    """True if the snapshot is PHYSICALLY partitioned (has ``col=value``
    subdirectories). The empty-table fallback snapshot is a single
    unpartitioned file; partition-directory surgery must not assume
    dirs that aren't there."""
    with contextlib.suppress(OSError):
        return any(
            "=" in name
            and os.path.isdir(os.path.join(path, name))
            for name in os.listdir(path)
        )
    return False


def _write_empty_snapshot(spark: SparkSession, schema, snap_path: str) -> None:
    """Replace ``snap_path`` with a single-file parquet holding zero
    rows and the full table schema (partition columns materialized as
    data columns) — the same remedy as the unpartitioned delete path's
    repartition(1) guard. Without it, a delete/retention that empties
    every partition would publish a zero-file snapshot that
    spark.read.parquet cannot infer a schema from."""
    shutil.rmtree(snap_path, ignore_errors=True)
    spark.createDataFrame([], schema).repartition(1).write.mode(
        "overwrite"
    ).parquet(snap_path)


def delete_keys(
    spark: SparkSession,
    keys: DataFrame,
    target_dir: str,
    key: str = "surrogate_id",
    partition_by: list[str] | None = None,
) -> dict[str, int]:
    """Keyed DELETE under the merge sink's full safety contract — the
    ``WHEN MATCHED THEN DELETE`` arm completing upsert_parquet's MERGE
    semantics (Delta's form; the reference's REST sink had no delete,
    so this is engine-native surface). Same advisory flock, same
    fresh-snapshot publication with CAS pointer swap, same deferred
    GC; idempotent by construction (absent keys are a no-op, replays
    converge) and visible afterwards in ``snapshot_changes`` as
    ``deleted`` rows.

    Scale shape: matched keys are found with one left_semi on a
    key(+partition)-column projection — a thin column-pruned scan, not
    a table read. Partitioned targets then rewrite ONLY the touched
    partitions: untouched directories are hard-linked (metadata-only),
    touched directories are REMOVED from the linked copy and the
    surviving rows appended back — removal-then-append rather than
    dynamic partition overwrite, because a delete can empty a
    partition entirely and dynamic overwrite only replaces partitions
    the written frame still contains (an emptied partition would
    silently keep its old rows)."""
    keys = keys.select(key).dropDuplicates([key]).persist()
    try:
        with _writer(target_dir) as w:
            if w.current is None:
                return {"rows_deleted": 0, "partitions_rewritten": 0}
            current = spark.read.parquet(w.current)
            # partition surgery requires the snapshot to PHYSICALLY
            # have partition dirs; the empty-table fallback (and any
            # unpartitioned layout) takes the full-rewrite path below
            if partition_by and _has_partition_dirs(w.current):
                touched_rows = (
                    current.select(key, *partition_by)
                    .join(keys, key, "left_semi")
                )
                touched = touched_rows.select(*partition_by).distinct().collect()
                n_deleted = touched_rows.count()
                if not touched:
                    return {"rows_deleted": 0, "partitions_rewritten": 0}
                remaining = current.where(
                    _partition_predicate(touched, partition_by)
                ).join(keys, key, "left_anti")
                with w.publish(link=True) as snap_path:
                    for t in touched:
                        d = os.path.join(
                            snap_path,
                            *[_partition_dirname(c, t[c]) for c in partition_by],
                        )
                        # touched tuples come FROM the table: a missing
                        # dir means the rendered name doesn't match the
                        # on-disk layout, and silently skipping it would
                        # RETAIN rows reported deleted (the ADVICE r5
                        # null/boolean class) — fail loudly instead
                        if not os.path.isdir(d):
                            raise RuntimeError(
                                f"partition dir {d!r} not found in the "
                                "snapshot: value rendering mismatch — "
                                "use the unpartitioned delete path"
                            )
                        shutil.rmtree(d)
                    remaining.write.mode("append").partitionBy(
                        *partition_by
                    ).parquet(snap_path)
                    if not _has_data_files(snap_path):
                        # every partition was touched AND emptied: the
                        # append wrote zero part files — publishable
                        # snapshots must stay readable
                        _write_empty_snapshot(spark, current.schema, snap_path)
                return {
                    "rows_deleted": n_deleted,
                    "partitions_rewritten": len(touched),
                }
            n_deleted = current.join(keys, key, "left_semi").count()
            if n_deleted == 0:
                return {"rows_deleted": 0, "partitions_rewritten": 0}
            remaining = current.join(keys, key, "left_anti")
            if remaining.isEmpty():
                # an empty frame writes ZERO part files (unreadable
                # schema) unless it carries at least one partition
                remaining = remaining.repartition(1)
            with w.publish() as snap_path:
                remaining.write.mode("overwrite").parquet(snap_path)
            return {"rows_deleted": n_deleted, "partitions_rewritten": 0}
    finally:
        keys.unpersist()


def drop_partitions(
    spark: SparkSession,
    target_dir: str,
    partition_by: list[str],
    keep: "F.Column | str",
) -> dict[str, int]:
    """Retention enforcement as a METADATA operation: drop every
    partition whose values fail the ``keep`` predicate (e.g.
    ``F.col('ano') >= 2020``) without scanning or rewriting any data —
    the new snapshot hard-links only the surviving partition
    directories, so the cost is O(#partitions), not O(table). The
    standard TTL job at 100 TB (Delta/Iceberg spell it
    ``DELETE WHERE <partition predicate>`` + vacuum; here the deferred
    snapshot GC is the vacuum). Published under the same flock + CAS
    contract; dropped rows surface as ``deleted`` in
    ``snapshot_changes``. The predicate must reference partition
    columns only — it is evaluated against the partition VALUES
    directory listing, never against rows."""
    if isinstance(keep, str):
        keep = F.expr(keep)
    with _writer(target_dir) as w:
        if w.current is None:
            return {"partitions_dropped": 0, "partitions_kept": 0}
        # partition tuples from the DIRECTORY layout (no data read):
        # spark reads only footers/schema lazily; select the partition
        # columns distinct — column-pruned to zero data columns, and at
        # worst footer-metadata-bounded
        current = spark.read.parquet(w.current)
        tuples = (
            current.select(*partition_by)
            .distinct()
            .withColumn("__keep", keep)
            .collect()
        )
        for t in tuples:
            if t["__keep"] is None:
                # a null verdict (e.g. F.col('ano') >= 2020 on a null
                # partition) is neither keep nor drop — silently
                # dropping would delete data the predicate never
                # decided on; make retention policies explicit about
                # nulls (coalesce / isNotNull in the predicate)
                vals = {c: t[c] for c in partition_by}
                raise ValueError(
                    f"retention predicate returned NULL for partition "
                    f"{vals}; wrap it so every partition gets an "
                    "explicit true/false verdict"
                )
        keep_t = [t for t in tuples if t["__keep"]]
        drop_t = [t for t in tuples if not t["__keep"]]
        if not drop_t:
            return {"partitions_dropped": 0, "partitions_kept": len(keep_t)}
        with w.publish(link=True) as snap_path:
            for t in drop_t:
                d = os.path.join(
                    snap_path,
                    *[_partition_dirname(c, t[c]) for c in partition_by],
                )
                # same loud-mismatch contract as delete_keys: the tuple
                # came from the table, so its directory must exist
                if not os.path.isdir(d):
                    raise RuntimeError(
                        f"partition dir {d!r} not found in the snapshot: "
                        "value rendering mismatch — retention not applied"
                    )
                shutil.rmtree(d)
            if not _has_data_files(snap_path):
                # every partition failed retention: keep the snapshot
                # readable (schema-bearing empty file, not zero files);
                # the previous snapshot is untouched, so its schema is
                # available
                _write_empty_snapshot(spark, current.schema, snap_path)
        return {
            "partitions_dropped": len(drop_t),
            "partitions_kept": len(keep_t),
        }
