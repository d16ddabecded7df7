"""Corpus-hygiene operators: PII scrubbing, cross-document line dedup,
and edit-distance near-dup verification.

The web-scale curation passes every published pretraining pipeline runs
before training (C4/Raffel et al. 2020 §2.2 line dedup; CCNet/Dolma-style
PII masking; RETSim-style bounded edit-distance verification of LSH
candidates). All three stay JVM-side: regex + hash aggregations + the
built-in `levenshtein`, no Python UDFs.

Reference parity note: the reference pipeline (dfevx/gov-ec-pipeline-etl,
etl/transform.py) normalizes and deduplicates exact keys only; these
operators are part of the LLM-pipeline tier the engine adds on top.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Shared regex vocabulary — deliberately simple patterns that parse
# identically under Java regex (Spark) and RE2 (DuckDB oracles): ASCII
# classes, bounded quantifiers, no backrefs/lookarounds.
EMAIL_RE = r"[a-z0-9]+@[a-z0-9]+\.com"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"
IP_RE = r"\d+\.\d+\.\d+\.\d+"


def plant_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> Column:
    """Deterministically augment ``text_col`` with synthetic PII keyed off
    ``id_col`` (the corpus is PII-free word salad, so detection needs
    planted positives — same construction the incremental-dedup queries
    use for planted duplicates). Returns the augmented text column:
    every doc_id % 7 gains an email, % 11 a phone, % 13 an IPv4."""
    did = F.col(id_col)
    email = F.when(
        did % 7 == 0,
        F.concat(
            F.lit(" contact user"),
            (did % 97).cast("string"),
            F.lit("@mail"),
            (did % 5).cast("string"),
            F.lit(".com"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 11 == 0,
        F.concat(
            F.lit(" call "),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 13 == 0,
        F.concat(
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit("."),
            ((did * 7) % 256).cast("string"),
            F.lit("."),
            (did % 250).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col(text_col), email, phone, ip)


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    emit_text: bool = False,
) -> DataFrame:
    """Detect and redact emails / phone numbers / IPv4 addresses in
    ``text_col`` AS GIVEN (test queries plant positives beforehand via
    ``plant_pii``; production corpora are scrubbed as-is).

    Counts are taken on the raw text BEFORE redaction (each pattern
    independent); redaction replaces matches in a fixed order
    (email → phone → ip) whose placeholders cannot re-match a later
    pattern. Output: (doc_id, n_email, n_phone, n_ip, redacted_md5) —
    the md5 proves the redacted string is byte-identical cross-engine;
    ``emit_text`` adds the redacted text itself (the CLI/write path).
    Purely per-row expression work: zero shuffles, zero Python."""
    raw = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IP_RE,
        "<IP>",
    )
    cols = [
        F.col(id_col),
        F.regexp_count(raw, F.lit(EMAIL_RE)).cast("bigint").alias("n_email"),
        F.regexp_count(raw, F.lit(PHONE_RE)).cast("bigint").alias("n_phone"),
        F.regexp_count(raw, F.lit(IP_RE)).cast("bigint").alias("n_ip"),
        F.md5(redacted).alias("redacted_md5"),
    ]
    if emit_text:
        cols.append(redacted.alias("redacted"))
    return df.select(*cols)


def line_segments(norm: Column, seg_tokens: int) -> Column:
    """The ``seg_tokens``-token lines of a single-space-separated text:
    segment i is ``array_join(slice(split(norm, ' '), seg_tokens*i+1,
    seg_tokens), ' ')`` byte for byte, empty tokens included (a tab or
    newline at an end of the text leaves one: ``trim`` strips spaces only).
    One codegen'd regex, no lambda; null for a null text."""
    return F.regexp_extract_all(
        norm, F.lit(f"(?:^| )([^ ]*(?: [^ ]*){{0,{seg_tokens - 1}}})"), F.lit(1)
    )


def corpus_line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 8,
    dup_threshold: int = 3,
) -> DataFrame:
    """C4-style cross-document line dedup (Raffel et al. 2020 §2.2):
    segment every document into fixed ``seg_tokens``-token lines, count
    each line across the WHOLE corpus, and drop every occurrence of a
    line seen >= ``dup_threshold`` times except the globally first one
    (min (doc_id, seg_idx) — "remove all but one").

    Output per document: (doc_id, n_segs, n_removed, kept_md5) where
    kept_md5 hashes the document rebuilt from its surviving lines in
    original order.

    Scale shape (the line TEXT never crosses an exchange — at 100 TB the
    exploded lines ARE the corpus): the exploded rows carry only
    (doc_id, seg_idx, xxhash64(line)). One hash-keyed groupBy counts
    lines (map-side combine absorbs hot boilerplate; no per-line sort);
    the removal join is hash-keyed against the aggregate, and only
    REMOVED (doc_id, seg_idx) ints reach the per-doc aggregate.
    Reassembly is MAP-SIDE: the removal-index lists join back to the docs
    and each doc drops the removed indexes in one projection. Nothing is
    cached: the stats aggregate and the removal probe each run the
    codegen'd segmenter (:func:`line_segments`), and building the plan
    starts no job.

    A line's identity is that one 64-bit hash, so two distinct lines can
    merge: the birthday bound n²/2⁶⁵ predicts about 270 false merges at
    10¹¹ distinct lines and 27 000 at 10¹²; a wider identity is open."""
    norm = F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")
    toks = F.split(norm, " ")
    nseg = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("bigint")
    seg_rows = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(line_segments(norm, seg_tokens)).alias("seg_idx", "seg"),
    ).select("doc_id", "seg_idx", F.xxhash64("seg").alias("seg_h"))
    stats = seg_rows.groupBy("seg_h").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc_id", "seg_idx")).alias("first"),
    )
    removed_rows = seg_rows.join(
        stats.where(F.col("cnt") >= dup_threshold), "seg_h"
    ).where(
        (F.col("doc_id") != F.col("first.doc_id"))
        | (F.col("seg_idx") != F.col("first.seg_idx"))
    )
    removed = removed_rows.groupBy("doc_id").agg(F.collect_set("seg_idx").alias("__rm"))
    # Map-side rebuild at TOKEN level: kept segments joined by " " are
    # exactly the kept tokens joined by " " (each segment IS its tokens
    # joined by " "), so the rebuild never re-derives the segment
    # array. Docs with no removals — the overwhelming mass of a real
    # corpus — take the when() fast path: md5 of the normalized text
    # itself, pure codegen. Only removal docs pay the per-token index
    # arithmetic, via array_except (one hash-set pass per doc, left-arg
    # order preserved) instead of a per-element membership lambda.
    base = df.select(
        F.col(id_col).alias("doc_id"),
        nseg.alias("n_segs"),
        norm.alias("__norm"),
        toks.alias("__toks"),
    ).where(F.col("__toks").isNotNull())  # null text exploded to no rows
    ntok = F.size("__toks")
    rm_tok = F.flatten(
        F.transform(
            F.col("__rm"),
            lambda r: F.sequence(
                r * seg_tokens,
                F.least(r * seg_tokens + (seg_tokens - 1), ntok - 1),
            ),
        )
    )
    kept_tok_idx = F.array_except(F.sequence(F.lit(0), ntok - F.lit(1)), rm_tok)
    kept_text = F.array_join(
        F.transform(kept_tok_idx, lambda i: F.get("__toks", i)), " "
    )
    kept_md5 = F.md5(
        F.when(F.col("__rm").isNull(), F.col("__norm")).otherwise(kept_text)
    )
    return base.join(removed, "doc_id", "left").select(
        "doc_id",
        "n_segs",
        F.coalesce(F.size("__rm"), F.lit(0)).cast("bigint").alias("n_removed"),
        kept_md5.alias("kept_md5"),
    )


EDIT_OFFSET = 7_000_000  # planted-variant id space (MUT_OFFSET is 1M)


def editdist_verify_pairs(
    corpus: DataFrame,
    variants: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_chars: int = 24,
    cap_chars: int = 160,
    max_dist: int = 6,
    max_df: int = 50,
) -> DataFrame:
    """Bounded edit-distance verification of blocked candidates — the
    exact-verify stage fuzzy-dedup pipelines run after LSH/blocking
    (RETSim-style). Candidates are generated by an equality join on the
    first ``key_chars`` chars of the normalized text (a blocking key,
    same candidate-generation role as d04's shingle buckets), with the
    d04 ``max_df`` discipline: blocking keys owned by more than
    ``max_df`` corpus documents are cut from candidate generation, so
    per-key fan-out is bounded and no hot prefix can go quadratic.
    Verification computes `levenshtein` on the first ``cap_chars``
    chars (the bounded window that keeps the O(n²) DP cell count
    constant per pair) and keeps pairs within ``max_dist`` edits.

    Output: (new_id, corpus_id, lev, sim) with sim = 1 - lev/cap.
    JVM-side throughout (built-in levenshtein); the only shuffles are
    the key-count aggregate and the blocking join."""

    def prep(df: DataFrame, out_id: str) -> DataFrame:
        norm = F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")
        return df.select(
            F.col(id_col).alias(out_id),
            F.substring(norm, 1, key_chars).alias("bkey"),
            F.substring(norm, 1, cap_chars).alias("capped"),
        )

    c = prep(corpus, "corpus_id")
    v = prep(variants, "new_id").withColumnRenamed("capped", "vcapped")
    eligible = c.groupBy("bkey").agg(F.count(F.lit(1)).alias("df_cnt")).where(
        F.col("df_cnt") <= max_df
    )
    pairs = (
        v.join(eligible.select("bkey"), "bkey")
        .join(c, "bkey")
        .withColumn("lev", F.levenshtein("vcapped", "capped").cast("bigint"))
        .where(F.col("lev") <= max_dist)
    )
    return pairs.select(
        "new_id",
        "corpus_id",
        "lev",
        F.round(F.lit(1.0) - F.col("lev") / F.lit(float(cap_chars)), 6).alias("sim"),
    )
