"""Distributed BPE merge learning (byte-pair encoding, Sennrich et al.
2016 — public method; tokenizer-construction layer of an LLM data
pipeline).

Scalable shape: ONE corpus scan aggregates the token stream into a
``(word_type, count)`` vocabulary table — the classic BPE observation
that merge learning is a function of the *type* frequency table, which
makes every later step corpus-size-independent — then each merge
iteration runs over the vocab-bounded table only:

  1. adjacent-symbol pair counts (an index-aware ``transform`` over the
     symbol array, exploded, weighted by word count),
  2. a deterministic argmax (count DESC, then lexicographic pair), and
  3. a left-to-right non-overlapping pair substitution applied through a
     broadcast 1-row join — the chosen merge never touches the driver
     (no ``collect``), it flows through the plan as data.

Symbol encoding: every symbol is wrapped as ``(sym)`` so the pair
pattern ``(a)(b)`` can only match at symbol boundaries, and the builtin
``replace`` (left-to-right, non-overlapping — Java ``String.replace``
and DuckDB ``replace`` share these semantics) applies the merge exactly
as sequential BPE does: ``(a)(a)(a)`` under merge ``a+a`` becomes
``(aa)(a)``, never ``(a)(aa)``. The vocabulary is restricted to
``^[a-z0-9]+$`` word types so the parenthesis encoding is unambiguous
(documented contract; the caller normalizes/filters anything else).

At 100 TB the corpus scan is the only data-scale stage (an
embarrassingly-parallel token explode + hash aggregate); the iteration
state is the word-type table (vocab-bounded, staged once) and each
step is one explode + one aggregate over it, with the argmax row
broadcast. Lineage across steps stays shallow because the substitution
is a single expression per step over the cached vocabulary.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from gov_ec_pipeline_etl_spark.caching import stage

# Pair stream over a symbol array: index-aware transform pairs each
# sliced element with its successor; slice length 0 (single-symbol
# words) yields an empty array, so no <2-symbol guard is needed.
_PAIRS_EXPR = (
    "transform(slice(syms, 1, size(syms) - 1),"
    " (s, i) -> struct(s AS l, syms[i + 1] AS r))"
)


def _encoded_vocab(docs: DataFrame, text_col: str) -> DataFrame:
    """(ws, cnt): parenthesis-encoded word types with corpus frequencies."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        docs.select(F.explode(F.split(norm, " ")).alias("w"))
        .where(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(F.regexp_replace("w", r"(.)", r"($1)").alias("ws"), "cnt")
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    syms = vocab.select(
        "cnt",
        F.regexp_extract_all("ws", F.lit(r"\(([^()]+)\)"), 1).alias("syms"),
    )
    pairs = syms.select("cnt", F.explode(F.expr(_PAIRS_EXPR)).alias("z"))
    return pairs.groupBy(
        F.col("z.l").alias("merge_left"), F.col("z.r").alias("merge_right")
    ).agg(F.sum("cnt").alias("pair_count"))


def _apply_merge(vocab: DataFrame, best: DataFrame) -> DataFrame:
    """Substitute the chosen pair in every word via a broadcast 1-row join.

    LEFT nested-loop join, not a crossJoin: once every word type is a
    single symbol (steps exceeds the learnable merges), the argmax is
    EMPTY — a crossJoin would annihilate the vocabulary and silently
    return an empty segmentation map, while the left join keeps the
    vocab and makes the exhausted step a no-op."""
    pat = F.concat(
        F.lit("("), F.col("merge_left"), F.lit(")("), F.col("merge_right"), F.lit(")")
    )
    rep = F.concat(
        F.lit("("), F.col("merge_left"), F.col("merge_right"), F.lit(")")
    )
    return vocab.join(F.broadcast(best), F.lit(True), "left").select(
        F.when(F.col("merge_left").isNull(), F.col("ws"))
        .otherwise(F.replace(F.col("ws"), pat, rep))
        .alias("ws"),
        "cnt",
    )


def _learn(vocab: DataFrame, steps: int) -> tuple[list[DataFrame], DataFrame]:
    """Run ``steps`` merge iterations over a staged encoded vocab;
    returns (per-step argmax rows, fully-substituted vocab). Each step's
    1-row argmax is staged: it is consumed twice (output row +
    substitution input)."""
    out_rows = []
    cur = vocab
    for step in range(1, steps + 1):
        best = stage(
            _pair_counts(cur)
            .orderBy(F.desc("pair_count"), "merge_left", "merge_right")
            .limit(1)
        )
        out_rows.append(
            best.select(
                F.lit(step).alias("step"),
                "merge_left",
                "merge_right",
                "pair_count",
            )
        )
        cur = _apply_merge(cur, best)
    return out_rows, cur


def bpe_merges(docs: DataFrame, text_col: str = "text", steps: int = 4) -> DataFrame:
    """Learn ``steps`` BPE merges; returns (step, merge_left, merge_right,
    pair_count) — one row per learned merge in order.

    The vocabulary table and each step's argmax are staged; release with
    ``caching.released``/``unpersist_inputs``.
    """
    out_rows, _cur = _learn(stage(_encoded_vocab(docs, text_col)), steps)
    return reduce(DataFrame.unionByName, out_rows)


def bpe_segmented_vocab(
    docs: DataFrame, text_col: str = "text", steps: int = 4
) -> DataFrame:
    """Learn ``steps`` merges from the corpus, apply ALL of them to the
    vocabulary, and return the segmentation map ``(w, n_syms)`` — one
    row per word type with its BPE symbol count. The map is
    vocab-bounded, so downstream consumers join it back to the token
    stream (broadcast at small vocabularies, hash join at web-scale
    ones). Its stages are released after consuming, as for
    :func:`bpe_merges`.
    """
    _rows, cur = _learn(stage(_encoded_vocab(docs, text_col)), steps)
    return cur.select(
        F.translate("ws", "()", "").alias("w"),
        F.size(F.regexp_extract_all("ws", F.lit(r"\(([^()]+)\)"), 1)).alias(
            "n_syms"
        ),
    )


def apply_bpe(
    tokens_col: Column | str, merges: list[tuple[str, str]]
) -> Column:
    """Segment a (lowercase ``[a-z0-9]+``) token column with a learned
    merge list: returns an array<string> of BPE symbols. Pure column
    expression — merges are catalog-scale literals, applied in learned
    order with the same left-to-right non-overlapping semantics."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    ws = F.regexp_replace(c, r"(.)", r"($1)")
    for left, right in merges:
        ws = F.replace(ws, F.lit(f"({left})({right})"), F.lit(f"({left}{right})"))
    return F.regexp_extract_all(ws, F.lit(r"\(([^()]+)\)"), 1)
