"""Training-sequence packing: concat-and-chop into fixed-capacity bins.

Autoregressive pretraining consumes fixed-length sequences (e.g. 2048
tokens): the standard pipeline concatenates documents in a stable order
and chops the stream every ``capacity`` tokens (GPT-style packing; the
zero-padding-waste form). The per-document question an engine must
answer at corpus scale is *where each document lands*: its first/last
bin and how many bin boundaries cut through it — the inputs to
boundary-aware attention masking and to shard manifests.

Scale design: the global token cumsum is NOT one window (a single
ORDER BY over the corpus = one partition at 10^10 rows). It is computed
hierarchically, the same decomposition as ``stratified_split``'s rank:
range-partition by the order key, per-range running sums, per-range
totals roll up to a partition-count-scale offset table
(driver-broadcast, like any catalog pruning list), global cumsum =
local + offset. The bucket tag is ``spark_partition_id()`` over the
range exchange, so that exchange is staged (``caching.stage``): the
cache is built from ONE execution of it, and both consumers (the
running-sum window and the totals aggregate) read the same assignment —
uncached, the two plan branches could instantiate independent
RangePartitioners and disagree on boundaries. The result is invariant to wherever the
boundaries land, so it equals the global-window definition bit-for-bit
— which is exactly what the DuckDB oracle runs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gov_ec_pipeline_etl_spark.caching import stage


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    capacity: int = 512,
    n_buckets: int = 32,
) -> DataFrame:
    """Per-document packing coordinates under concat-and-chop at
    ``capacity`` tokens, documents concatenated in ascending ``id_col``
    order (ids must be unique — the repo's window total-order rule).

    Returns (id, n_tokens, first_bin, last_bin, bins_spanned) with
    0-based bins; ``bins_spanned - 1`` is the number of chop boundaries
    crossing the document. All integer arithmetic (``div``), no float
    anywhere — bin indexes are exact at any corpus size. The bucket
    assignment is staged (``caching.stage``); the consumer releases it
    after its action."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(norm, " ")).cast("long").alias("n_tokens"),
    )
    # stage the bucket assignment: _pid is a property of the PHYSICAL
    # range exchange, so every consumer must read one materialization
    # of it (two independent branches could sample different range
    # boundaries and key offsets against mismatched buckets)
    d = stage(
        base.repartitionByRange(n_buckets, F.col("id")).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = d.withColumn("_loc", F.sum("n_tokens").over(w_loc))
    # bucket totals: n_buckets rows — the offset window over them is
    # partition-count-scale, not data-scale
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        d.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("_tot"))
        .select(
            "_pid",
            F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    return (
        loc.join(F.broadcast(offs), "_pid")
        .withColumn("_cum", F.col("_loc") + F.col("_off"))
        .select(
            "id",
            "n_tokens",
            F.expr(f"(_cum - n_tokens) div {capacity}").alias("first_bin"),
            F.expr(f"(_cum - 1) div {capacity}").alias("last_bin"),
            F.expr(
                f"(_cum - 1) div {capacity} - (_cum - n_tokens) div {capacity} + 1"
            ).alias("bins_spanned"),
        )
    )
