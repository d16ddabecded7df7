"""Stored incremental-aggregate maintenance (the operable form of u56).

u56 proves the additive-IVM identity in-query: agg(base) ⊕ agg(delta)
== agg(base ∪ delta), integer-exactly, for the self-maintainable
aggregates (COUNT / SUM over integer-cast measures). This module
deploys it as a STORE a user can operate (the same "operator exists →
a user can run it" contract as the stored dedup/ANN indexes):

    init_store(spark, base_df, store, keys=[...], sums={...})
    apply_delta(spark, delta_df, store, batch_id="2026-08-15")
    verify_store(spark, full_df, store)          # == recompute?

Layout — the stored-table snapshot protocol every writer here shares
(``sinks.snapshot``: writer flock, compare-and-swap pointer, deferred
GC), with the store's metadata riding in the pointer record:

    store/
      snapshot_<12 hex>/part-*.parquet   agg cells of the current version
      snapshot_<12 hex>/...              the previous version, kept for
                                         in-flight readers until the next
                                         apply
      _CURRENT                           {snapshot, previous, keys, sums,
                                          current, applied: [...]}

``apply_delta`` is IDEMPOTENT per batch_id: the pointer's ledger records
applied ids, and a replayed batch is a recorded no-op — the property
that makes at-least-once delivery safe, exactly as the keyed upsert
sink's run ledger does for row merges. The ledger entry and the cells
it describes publish in ONE atomic pointer replace, so a batch is never
recorded without its cells or applied twice; two concurrent applies
serialize on the writer lock (the loser raises
``ConcurrentWriterError`` and a retry applies it). ``current`` counts
published versions. Nothing here scans the base data after init: each
apply aggregates ONLY the delta (cells-sized shuffle), merges against
the current cells-sized snapshot, and publishes a new snapshot — the
100 TB posture is delta-sized work per refresh.

At cluster scale the snapshot write is a cells-sized parquet (group
cardinality, not fact cardinality), so versioning cost is bounded by
the dimensionality of the view, never the corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.sinks import snapshot


def _agg(df: DataFrame, keys: list[str], sums: dict[str, str]) -> DataFrame:
    """COUNT + integer-cast SUMs — the self-maintainable aggregates.
    ``sums`` maps output name -> source column; sources are cast to
    bigint BEFORE summing so ⊕ is exact integer algebra (callers
    pre-scale money to cents etc.)."""
    measures = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(src).cast("bigint")).alias(name)
        for name, src in sums.items()
    ]
    return df.groupBy(*keys).agg(*measures)


def init_store(
    spark: SparkSession,
    base_df: DataFrame,
    store: str,
    keys: list[str],
    sums: dict[str, str],
) -> dict:
    """Aggregate ``base_df`` and publish it as version 1."""
    fields = {"keys": keys, "sums": sums, "current": 1, "applied": []}
    with snapshot.writer(store) as w:
        with w.publish(fields=fields) as path:
            _agg(base_df, keys, sums).write.mode("overwrite").parquet(path)
        return w.record


def read_store(spark: SparkSession, store: str) -> DataFrame:
    return snapshot.read(spark, store)


def apply_delta(
    spark: SparkSession, delta_df: DataFrame, store: str, batch_id: str
) -> dict:
    """Merge ``delta_df``'s aggregate into a NEW snapshot and publish
    it with ``batch_id`` in the ledger. Idempotent per ``batch_id``: a
    replay is a recorded no-op."""
    with snapshot.writer(store) as w:
        snapshot.require(store)  # an uninitialized store fails loudly
        meta = w.record
        if batch_id in meta["applied"]:
            return {**meta, "replayed": batch_id}
        keys, sums = meta["keys"], meta["sums"]
        cur = spark.read.parquet(w.current)
        d = _agg(delta_df, keys, sums)
        measure_cols = ["n_rows", *sums]
        z = F.lit(0).cast("bigint")
        merged = cur.alias("a").join(
            d.alias("b"), keys, "full_outer"
        ).select(
            *[F.col(k) for k in keys],
            *[
                (
                    F.coalesce(F.col(f"a.{m}"), z) + F.coalesce(F.col(f"b.{m}"), z)
                ).alias(m)
                for m in measure_cols
            ],
        )
        fields = {
            "keys": keys,
            "sums": sums,
            "current": meta["current"] + 1,
            "applied": [*meta["applied"], batch_id],
        }
        with w.publish(fields=fields) as path:
            merged.write.mode("overwrite").parquet(path)
        return w.record


def verify_store(
    spark: SparkSession, full_df: DataFrame, store: str
) -> dict:
    """Recompute the view from ``full_df`` and diff cell-for-cell
    against the current snapshot (integer equality, both directions)."""
    cur = read_store(spark, store)
    meta = snapshot.pointer(store)
    keys, sums = meta["keys"], meta["sums"]
    measure_cols = ["n_rows", *sums]
    ref = _agg(full_df, keys, sums)
    joined = cur.alias("a").join(ref.alias("b"), keys, "full_outer")
    mismatch = joined.where(
        " OR ".join(
            f"NOT (a.{m} <=> b.{m})" for m in measure_cols
        )
    ).count()
    return {
        "cells": ref.count(),
        "mismatched_cells": mismatch,
        "ok": mismatch == 0,
        "current": meta["current"],
        "applied": meta["applied"],
    }
