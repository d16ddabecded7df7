"""Streaming near-duplicate ingest: arrival micro-batches checked
against a STORED corpus sketch index via foreachBatch.

This is the production deployment shape of the incremental dedup
operators (u12 / `incremental_neardup_against`): a corpus snapshot is
sketched ONCE into a stored MinHash index; document arrivals stream in
and each micro-batch runs one asymmetric band join + exact-Jaccard
rerank against the read-back index. The corpus is never re-shingled
and never self-joined — per-batch work is linear in the batch.

Equivalence that makes the stream fully oracle-checkable: every result
row involves exactly one arrival, and the file-source partitions the
arrival set across micro-batches, so the union of per-batch results
equals the one-shot batch result — u12's DuckDB signature-replay
oracle states the streaming output exactly.

At cluster scale the same loop runs unbounded (Kafka/file source,
per-trigger batches); `append_to_sketch_index` is the companion write
path when accepted arrivals should join the corpus snapshot.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.streaming.staging import (
    BATCHES,
    drain,
    session_staging_dir,
    stage,
)


def run_streaming_neardup_ingest(
    spark: SparkSession,
    corpus: DataFrame,
    arrivals: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """Stream ``arrivals`` in ``BATCHES`` micro-batches against a
    sketch index built from ``corpus``; returns the appended
    (new_id, corpus_id, jaccard) result frame."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        build_sketch_index,
        incremental_neardup_against,
        read_sketch_index,
    )

    idx = session_staging_dir("neardup_index")
    build_sketch_index(corpus, "doc_id", "text", idx, k=k)
    stored = read_sketch_index(spark, idx)
    # one file per micro-batch: the check runs as BATCHES separate
    # foreachBatch invocations, not one big batch; the loop releases the
    # per-batch arrival sketch the operator stages — an unbounded ingest
    # would otherwise pin one per trigger
    stream, staged = stage(arrivals, "neardup_ingest", BATCHES)
    return drain(
        stream,
        "append",
        [staged, idx],
        each=lambda batch: incremental_neardup_against(
            batch, stored, "doc_id", "text", k=k, threshold=threshold
        ),
    )


def run_streaming_quality_gate(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Stream ``docs`` in ``BATCHES`` micro-batches through the Gopher
    repetition gate (``operators.quality.gopher_repetition``); each
    foreachBatch scores its batch and appends the per-document quality
    row. The signal is purely per-document — no cross-doc state — so
    the streamed union equals the one-shot batch result exactly, and
    u36's full DuckDB oracle hash-checks the stream end to end.

    This is the ingest-time deployment: score-and-flag documents as
    they arrive, BEFORE they enter the corpus, instead of a nightly
    batch sweep. At cluster scale the same loop runs unbounded on a
    Kafka/file source."""
    from gov_ec_pipeline_etl_spark.operators.quality import gopher_repetition

    stream, staged = stage(docs, "quality_gate", BATCHES)
    return drain(
        stream,
        "append",
        [staged],
        each=lambda batch: gopher_repetition(batch, "doc_id", "text"),
    )


def run_streaming_bpe_meter(
    spark: SparkSession,
    docs: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Stream ``docs`` in ``BATCHES`` micro-batches through a learned
    BPE merge table: each foreachBatch segments its batch's tokens with
    ``apply_bpe`` (the merge list is catalog-scale literals — the same
    class as broadcast centroid tables) and appends the per-document
    tokenization meter row ``(id, source, n_syms, n_toks)``.

    This is the ingest-time deployment of the tokenizer tier: meter the
    token/symbol cost of arrivals as they land — the number a
    budget-aware ingest loop charges against a source quota — instead
    of re-tokenizing the corpus in a nightly sweep. Per-document and
    stateless, so the streamed union equals the one-shot batch result
    exactly and the u43-style segmentation-map oracle hash-checks the
    stream end to end. Documents with no ``[a-z0-9]+`` token emit no
    row (nothing to meter), matching the oracle's map join."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.operators.bpe import apply_bpe

    def meter_batch(batch: DataFrame) -> DataFrame:
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        words = batch.select(
            F.col("doc_id").alias("id"),
            "source",
            F.explode(F.split(norm, " ")).alias("w"),
        ).where(F.col("w").rlike("^[a-z0-9]+$"))
        return (
            words.select(
                "id", "source", F.size(apply_bpe("w", merges)).alias("ns")
            )
            .groupBy("id", "source")
            .agg(
                F.sum("ns").alias("n_syms"),
                F.count("*").alias("n_toks"),
            )
        )

    stream, staged = stage(docs, "bpe_meter", BATCHES)
    return drain(stream, "append", [staged], each=meter_batch)


def run_streaming_pii_gate(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Stream ``docs`` in ``BATCHES`` micro-batches through the PII
    scrub (``operators.hygiene.pii_scrub``); each foreachBatch counts
    and redacts its batch and appends the per-document scrub row. The
    scrub is purely per-document regex work — no cross-doc state — so
    the streamed union equals the one-shot batch result exactly and
    u45's full DuckDB oracle hash-checks the stream end to end.

    This is the ingest-time deployment compliance pipelines actually
    run: PII must be masked BEFORE a document is ever persisted to the
    corpus store, not patched in a later sweep. At cluster scale the
    same loop runs unbounded on a Kafka/file source."""
    from gov_ec_pipeline_etl_spark.operators.hygiene import pii_scrub

    stream, staged = stage(docs, "pii_gate", BATCHES)
    return drain(stream, "append", [staged], each=pii_scrub)


def run_streaming_cms_ingest(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Stream ``docs`` in ``BATCHES`` micro-batches; each foreachBatch
    builds ITS OWN 4x1024 Count-Min grid and appends it to a grid
    store — the streaming deployment of the mergeable-summaries algebra
    u51 proves in batch (integer counters: sum of per-batch grids ==
    single-pass corpus grid, exactly). The final answer reads the store,
    sums cells, and probes the exact top-20 tokens; ``merge_exact``
    asserts cell-level equality against a single-pass batch grid, so
    any lost/duplicated batch flips the output. At cluster scale this
    is how sketch state accretes on an unbounded stream: per-trigger
    grids are tiny (4096 cells), the store compacts by summation, and
    no raw token ever needs to be retained."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.functions.hashing import portable_hash64

    seeds = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("s")

    def seeded_rows(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
        )
        h = portable_hash64(F.col("token"), 0)
        return toks.select("token", seeds).select(
            "token", "s", (h * (F.col("s") + 1) % 1024).alias("bucket")
        )

    def grid_batch(batch: DataFrame) -> DataFrame:
        return (
            seeded_rows(batch)
            .groupBy("s", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    stream, staged = stage(docs, "cms_ingest", BATCHES)
    merged = (
        drain(stream, "append", [staged], each=grid_batch)
        .groupBy("s", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    full = seeded_rows(docs).groupBy("s", "bucket").agg(
        F.count(F.lit(1)).alias("n_full")
    )
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    top20 = exact.orderBy(F.col("exact_n").desc(), F.col("token")).limit(20)
    h = portable_hash64(F.col("token"), 0)
    probes = top20.select("token", "exact_n", seeds).select(
        "token", "exact_n", "s", (h * (F.col("s") + 1) % 1024).alias("bucket")
    )
    return (
        probes.join(F.broadcast(merged), ["s", "bucket"])
        .join(F.broadcast(full), ["s", "bucket"])
        .groupBy("token", "exact_n")
        .agg(
            F.min("n").alias("cms_estimate"),
            (F.min("n") == F.min("n_full")).alias("merge_exact"),
        )
    )


def run_streaming_hll_ingest(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Stream ``events`` in ``BATCHES`` micro-batches; each
    foreachBatch builds per-event-type DataSketches HLL sketches
    (lgConfigK=12, binary columns) and appends them to a sketch store —
    u54's union algebra deployed as the unbounded-ingest state pattern
    beside v07's Count-Min form. The final answer hll_union_agg's the
    store per event type (plus one global union across every stored
    sketch) and asserts each estimate within 5% of the exact distinct
    count.

    Contrast with v07, stated so the guarantee isn't oversold: Count-Min
    grids are integer counters, so the summed store equals the
    single-pass sketch CELL-FOR-CELL; HLL union is estimate-preserving
    but not bit-path-identical to a directly-built sketch, so the
    streaming claim is the ACCURACY BOUND (q21b pattern), not
    bit-equality. At cluster scale this is distinct-user counting on an
    unbounded stream: per-trigger sketch rows are ~2 KB each, the store
    compacts by union, and no raw user id is retained."""
    import pyspark.sql.functions as F

    stream, staged = stage(events, "hll_ingest", BATCHES)
    stored = drain(
        stream,
        "append",
        [staged],
        each=lambda batch: batch.groupBy("event_type").agg(
            F.expr("hll_sketch_agg(user_id, 12)").alias("sk")
        ),
    )
    per_est = stored.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias("est")
    )
    all_est = stored.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias("est")
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    exact_all = events.agg(F.count_distinct("user_id").alias("exact_users"))
    ok = (
        F.abs(F.col("est") - F.col("exact_users"))
        <= 0.05 * F.col("exact_users")
    ).alias("within_5pct")
    per = per_est.join(F.broadcast(exact), "event_type").select(
        F.col("event_type").alias("scope"), "exact_users", ok
    )
    allr = all_est.join(F.broadcast(exact_all)).select(
        F.lit("ALL_MERGED").alias("scope"), "exact_users", ok
    )
    return per.unionByName(allr)
