"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- Candidate generation NEVER compares all pairs. MinHash uses banded LSH
  (explode factor = #bands per doc, shuffle on band key); SimHash uses
  chunk-LSH on fingerprint segments; n-gram Jaccard uses an inverted
  index over rare shingles with a bucket-size cap.
- Verification (exact Jaccard / Hamming) runs only on candidate pairs.
- Everything is built-in array/bit expressions — no Python in the hot
  path. ``portable=True`` selects the md5-based cross-engine hash
  (oracle-checkable); ``portable=False`` selects native xxhash64 for
  production speed.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from gov_ec_pipeline_etl_spark.caching import released, stage
from gov_ec_pipeline_etl_spark.functions.hashing import hash64
from gov_ec_pipeline_etl_spark.sinks import snapshot


def _anchor_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    short_fallback: bool,
) -> DataFrame:
    """Shared positional k-gram assembly kernel: (id, pos, s) rows.

    Tokens explode to rows, spans assemble via window ``lead`` —
    everything stays in whole-stage codegen, unlike array higher-order
    lambdas which Catalyst interprets per element (~15× slower at
    sf0.1). One exchange (the id-partitioned explode).

    ``short_fallback=True`` emits a document shorter than ``k`` words
    as one whole-text span (the shingle/minhash contract);
    ``short_fallback=False`` drops such documents (the substring-run
    contract — no anchor, no run)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = df.select(
        F.col(id_col).alias("id"),
        norm.alias("norm"),
        F.size(F.split(norm, " ")).alias("n"),
    )
    toks = base.select(
        "id",
        "n",
        F.posexplode(
            F.when(F.col("n") >= k, F.split("norm", " ")).otherwise(
                F.array("norm")
            )
        ).alias("pos", "t"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("t", j).over(w) for j in range(1, k)]
    full = F.concat_ws(" ", F.col("t"), *leads) if leads else F.col("t")
    complete = leads[-1].isNotNull() if leads else F.lit(True)
    if short_fallback:
        s = F.when(F.col("n") >= k, full).otherwise(F.col("t"))
        keep = (F.col("n") < k) | complete
    else:
        s = full
        keep = (F.col("n") >= k) & complete
    return (
        toks.select("id", "pos", s.alias("s"), keep.alias("keep"))
        .where("keep")
        .drop("keep")
    )


def positional_shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, s) rows: ALL positional k-word spans of each document, WITH
    multiplicity — one row per span occurrence (documents shorter than
    k words contribute their whole normalized text as one span)."""
    return _anchor_rows(df, id_col, text_col, k, short_fallback=True).select(
        "id", "s"
    )


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, s) rows: the DISTINCT k-word shingles of each document.

    ``positional_shingle_rows`` + per-document dedup. The dedup runs as
    a second window over the SAME id-partitioning (local sort, no
    reshuffle) instead of a ``distinct()``, whose (id, s) exchange would
    also destroy the id-partitioning that downstream per-id aggregates
    (signatures, set sizes) reuse exchange-free.
    """
    shingled = positional_shingle_rows(df, id_col, text_col, k)
    w2 = Window.partitionBy("id").orderBy("s")
    prev = F.lag("s").over(w2)
    return (
        shingled.withColumn("dup", prev.isNotNull() & (prev == F.col("s")))
        .where(~F.col("dup"))
        .select("id", "s")
    )


def duplicated_span_mass(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_df: int = 2,
) -> DataFrame:
    """Per-document duplicated-span mass: the fraction of a document's
    POSITIONAL k-token spans (with multiplicity) whose span text occurs
    in at least ``min_df`` distinct documents of the corpus.

    This is the span-level duplication signal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better") —
    whole-document Jaccard (d04) misses the common failure mode where
    distinct pages share large boilerplate runs; a high ``dup_mass``
    with a low doc-level Jaccard is exactly that case. The reference
    pipeline has no notion of this (SURVEY §2: the dedup tier stops at
    whole-row keys); it is part of the LLM-curation surface this engine
    adds.

    Plan: one scan + id-partitioned explode (positional spans), one
    (id, span) agg for per-doc multiplicities, one span-keyed agg for
    document frequency, one hash join back on the span (both sides come
    out of span-keyed exchanges, so AQE reuses the partitioning), one
    per-doc agg. All built-in expressions. At 100 TB the span-keyed
    shuffle dominates, so the span identity IS the non-portable 64-bit
    hash (``hash64(s, portable=False)``): 8-byte keys shuffle ~4-6x
    fewer bytes than k-token strings. Oracle parity is unaffected —
    the hash exists only as a join/groupBy key and never appears in
    the output, and distinct spans colliding (~2^-64 per compared
    pair) is the same accepted trade as ``jaccard_verify``'s
    ``on="h60"`` dial."""
    # Span identity = fast 64-bit hash (the dial the docstring names):
    # all three exchanges key on the span, the span text itself never
    # appears in the output, and the 8-byte key shuffles ~4-6x fewer
    # bytes than the k-token string. Measured r10: 1.9 -> 1.1 s at
    # sf0.1, identical result set; same ~2^-64 collision trade as
    # ``jaccard_verify``'s ``on="h60"``.
    occ = (
        positional_shingle_rows(df, id_col, text_col, k)
        .select("id", hash64(F.col("s"), 0, portable=False).alias("s"))
        .groupBy("id", "s")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dfreq = occ.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    dup_c = F.when(F.col("df") >= min_df, F.col("c")).otherwise(F.lit(0))
    return (
        occ.join(dfreq, "s")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(dup_c).alias("dup_spans"),
        )
        .select(
            "id",
            "n_spans",
            "dup_spans",
            F.round(F.col("dup_spans") / F.col("n_spans"), 6).alias(
                "dup_mass"
            ),
        )
    )


def substring_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_len: int = 20,
    max_occ: int = 64,
) -> DataFrame:
    """Cross-document EXACT substring duplication at >= ``min_len``
    token granularity — the suffix-array dedup family of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed for a shared-nothing engine. A single-node suffix
    array is replaced by its distributed equivalent: positional
    ``k``-token ANCHORS indexed by content, then match EXTENSION along
    pair diagonals — a run of consecutive anchor matches at constant
    ``pos_a - pos_b`` offset is exactly a duplicated substring of
    ``run_anchors + k - 1`` tokens, because overlapping k-grams
    matching at successive positions pin every token in between.

    Distinct from :func:`duplicated_span_mass` (u30: per-doc mass, no
    pair attribution, no lengths) and from span decontamination (u33):
    this reports, per document PAIR, the maximal shared runs — the
    signal used to cut >=50-token clones that survive document-level
    Jaccard.

    Scale shape: no pairwise document work ever happens. One
    id-partitioned window assembles anchors (whole-stage codegen
    ``lead`` chain, no array lambdas); one anchor-keyed aggregate
    keeps only CROSS-document anchors with total occurrence count
    <= ``max_occ`` (single-doc anchors — the overwhelming mass of a
    natural corpus — never reach the join, and the self-join fan-out
    is bounded by ``max_occ**2`` per anchor, the same explicit DF-cut
    contract as ``ngram_jaccard_pairs``); the diagonal-run window
    partitions by (pair, diagonal) whose ``pos_a`` ordering is a total
    order by construction (one anchor per position per doc). Output is
    bounded by the candidate matches, not the corpus square.

    Returns one row per MAXIMAL run of >= ``min_len`` tokens:
    (id_a, id_b, start_a, start_b, run_tokens). Overlapping repeats on
    different diagonals emit once per diagonal — the standard
    multiplicity of the method, mirrored by the oracle.
    :func:`substring_run_pairs` summarizes per pair;
    :func:`substring_dedup_cut` turns the runs into the keep-earliest
    corpus cut."""
    sp = _anchor_rows(df, id_col, text_col, k, short_fallback=False)
    # Anchor identity is the 64-bit hash of the anchor text, not the
    # string: every downstream exchange (the frequency cut, the
    # re-join, both self-join sides) keys on the anchor, and an 8-byte
    # key shuffles ~4-6x fewer bytes than a k-token string (guide §2.3
    # narrower shuffle keys; measured r10: u30's identical dial cut its
    # span aggregation 1.9 -> 1.1 s at sf0.1). Same accepted collision
    # trade as ``jaccard_verify``'s ``on="h60"`` (~2^-64 per compared
    # pair); the output columns never contain the anchor itself.
    sp = sp.select("id", "pos", hash64(F.col("s"), 0, portable=False).alias("s"))
    # anchor-keyed cut in ONE aggregate: cross-document (min!=max id)
    # and occurrence-bounded. Staged — it feeds both sides of the
    # candidate self-join.
    freq = sp.groupBy("s").agg(
        F.count(F.lit(1)).alias("occ"),
        F.min("id").alias("mn"),
        F.max("id").alias("mx"),
    )
    spf = stage(
        sp.join(
            freq.where(
                (F.col("occ") <= max_occ) & (F.col("mn") != F.col("mx"))
            ).select("s"),
            "s",
        )
    )
    a = spf.select(
        F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "s"
    )
    b = spf.select(
        F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "s"
    )
    cand = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pos_a", "pos_b")
    )
    # islands on the diagonal: pos_a is unique within (pair, diag) —
    # a fixed pos_a names one anchor, and a given diag names one pos_b
    # — so the row_number ordering is total (window total-order rule)
    w2 = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = (
        cand.withColumn("diag", F.col("pos_a") - F.col("pos_b"))
        .withColumn("grp", F.col("pos_a") - F.row_number().over(w2))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("run_tokens"),
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
        )
        .where(F.col("run_tokens") >= min_len)
        .select("id_a", "id_b", "start_a", "start_b", "run_tokens")
    )
    return runs


def substring_run_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_len: int = 20,
    max_occ: int = 64,
) -> DataFrame:
    """Per-document-PAIR summary of :func:`substring_runs`:
    (id_a, id_b, n_runs, max_run_tokens, dup_tokens)."""
    runs = substring_runs(df, id_col, text_col, k, min_len, max_occ)
    return runs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_tokens").alias("max_run_tokens"),
        F.sum("run_tokens").alias("dup_tokens"),
    )


def substring_dedup_cut(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_len: int = 20,
    max_occ: int = 64,
) -> DataFrame:
    """The dedup CUT of Lee et al. 2022: every token span duplicated
    from an EARLIER document (smaller id) is marked for removal, and
    each document reports how much of it survives. Keep-earliest is the
    same total-order rule the keyed dedup sink uses: a run between
    ``id_a < id_b`` removes ``[start_b, start_b + run_tokens)`` from
    the LATER doc only, so exactly one copy of every duplicated
    substring survives corpus-wide (chains W<X<Y remove from X via
    (W,X) and from Y via both pairs — consistent).

    Overlapping removal intervals are UNION-ed per document before
    counting (interval-islands on a running max — one window over the
    per-doc interval list, which is run-scale, not token-scale).
    Returns one row per document: (id, n_tokens, removed_tokens,
    kept_tokens, kept_ratio)."""
    runs = substring_runs(df, id_col, text_col, k, min_len, max_occ)
    iv = runs.select(
        F.col("id_b").alias("id"),
        F.col("start_b").alias("lo"),
        (F.col("start_b") + F.col("run_tokens")).alias("hi"),
    ).distinct()
    w = Window.partitionBy("id").orderBy("lo", "hi")
    prev_max = F.max("hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = (
        iv.withColumn(
            "new_isl",
            F.when(
                prev_max.isNull() | (F.col("lo") > prev_max), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "isl",
            F.sum("new_isl").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("id", "isl")
        .agg((F.max("hi") - F.min("lo")).alias("covered"))
        .groupBy("id")
        .agg(F.sum("covered").alias("removed_tokens"))
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(norm, " ")).cast("long").alias("n_tokens"),
    )
    kept = F.col("n_tokens") - F.coalesce("removed_tokens", F.lit(0))
    return (
        toks.join(isl, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("removed_tokens", F.lit(0))
            .cast("long")
            .alias("removed_tokens"),
            kept.cast("long").alias("kept_tokens"),
            # floor-quantize at 6dp of a bit-identical double (the
            # repo's cross-engine ratio discipline — ROUND at an exact
            # decimal boundary diverges between engines ~1-in-30k)
            (
                F.floor(kept * F.lit(1000000.0) / F.col("n_tokens"))
                / 1000000
            ).alias("kept_ratio"),
        )
    )


def jaccard_verify(
    cand: DataFrame, rows: DataFrame, threshold: float, on: str = "s"
) -> DataFrame:
    """Exact Jaccard for candidate pairs from shingle ROWS: collapse the
    rows to one set-array per document (ONE aggregation over the sketch),
    then two id-keyed joins attach the arrays to the candidate pairs and
    ``array_intersect`` counts the overlap per pair inside codegen.
    Pairs sharing nothing drop out (jaccard 0 < threshold always).

    This replaces the earlier rows-form (two joins dragging every
    shingle row of every candidate document through shuffle, then a
    pair-keyed count) — measured r10: 0.93 -> 0.61 s on the d02 shape at
    sf0.1, identical result set. Same bytes cross the network (the
    arrays pack the same shingle hashes), fewer shuffle rows.

    ``on`` names the shingle-identity column: the string itself, or its
    60-bit hash (bigint join keys shuffle less; collision odds per
    compared pair are ~2⁻⁶⁰ · |A|·|B| — negligible against the gate).
    Per-document shingle identities are distinct by construction
    (``shingle_rows`` emits ``array_distinct`` shingles), so the set
    semantics of ``collect_set``/``array_intersect`` equal the old
    multiset join modulo the same negligible collisions. The explicit
    ``inter > 0`` filter preserves the rows-form contract at
    ``threshold <= 0`` (its inner join dropped zero-overlap pairs; the
    CLI exposes ``--threshold``, so the degenerate config is
    reachable). Memory shape: one array buffer per document during the
    ``collect_set`` — fine for shingle sketches (bounded by document
    token count), not for unbounded multi-valued keys."""
    sets = rows.groupBy("id").agg(F.collect_set(on).alias("__hs"))
    return (
        cand.join(
            sets.withColumnsRenamed({"id": "id_a", "__hs": "__ha"}), "id_a"
        )
        .join(sets.withColumnsRenamed({"id": "id_b", "__hs": "__hb"}), "id_b")
        .withColumn("inter", F.size(F.array_intersect("__ha", "__hb")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("__ha") + F.size("__hb") - F.col("inter")),
        )
        .where((F.col("inter") > 0) & (F.col("jaccard") >= threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of the whitespace-normalized text.
    Documents with fewer than k words yield the whole text as one shingle."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    toks = F.split(norm, " ")
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.array_distinct(F.when(n >= k, shingled).otherwise(F.array(norm)))


MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32


def minhash_coeffs(num_hashes: int, seed: int = 123) -> list[tuple[int, int]]:
    """Deterministic affine coefficients (a < 2^31 keeps a*h32 < 2^63 —
    no bigint overflow in either engine)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**31 - 1, size=num_hashes)
    b = rng.integers(0, 2**31 - 1, size=num_hashes)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def minhash_sketch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    portable: bool = True,
) -> DataFrame:
    """(id, h60) shingle sketch, staged (``caching.stage``).

    Each distinct shingle is hashed ONCE to its 60-bit identity and the
    strings are dropped: the cached sketch is smaller and joins on
    bigints. Every consumer (signature, bands, verification sets) reads
    the one cached copy; the cluster-scale form stores the sketch once
    (``build_sketch_index``)."""
    return stage(shingle_hashes(df, id_col, text_col, k, portable))


def shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, portable: bool = True
) -> DataFrame:
    """(id, h60): each document's distinct k-word shingles as 60-bit
    hashes — the one sketch expression every MinHash and n-gram path
    (corpus, arrivals, stored index) is built from."""
    return shingle_rows(df, id_col, text_col, k).select(
        "id", hash64(F.col("s"), 0, portable).alias("h60")
    )


def head_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """The document-frequency head of a (id, h60) sketch: shingle hashes
    in more than ``max_df`` documents. Heavy hitters by definition, so
    the set is small (at most |rows| / max_df values) and broadcastable
    at any corpus size; the count-only aggregate is map-side partial."""
    return (
        sh.groupBy("h60")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("h60")
    )


def minhash_signature(sh: DataFrame, num_hashes: int = 12) -> DataFrame:
    """(id, s0..s{n-1}) MinHash signature from a (id, h60) sketch:
    groupBy min-aggregates — the per-row affine hashes run inside
    whole-stage codegen, one shuffle on id."""
    exploded = sh.withColumn("h", F.col("h60") % F.lit(2**32))
    return exploded.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
                f"s{i}"
            )
            for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    )


def minhash_band_keys(
    sh: DataFrame, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """(id, band_idx, band_key) from a (id, h60) sketch: signature via
    ``minhash_signature``, then banded keys. Reusable across batches —
    the incremental-dedup path banding a new batch against a stored
    corpus sketch calls this on each side."""
    return band_keys_from_signature(
        minhash_signature(sh, num_hashes), num_hashes, bands
    )


def band_keys_from_signature(
    sig: DataFrame, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """(id, band_idx, band_key) from an already-computed signature frame
    (id, s0..s{n-1}). Callers that need BOTH the signature columns and
    the band keys (the estimator-error measurement) compute the
    signature once and derive bands from it, instead of paying the
    signature's sketch-wide min-aggregate shuffle twice."""
    rows = num_hashes // bands
    banded_keys = sig.select(
        "id",
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            ",", *[F.col(f"s{b * rows + r}") for r in range(rows)]
                        )
                    ).alias("band_key"),
                )
                for b in range(bands)
            ]
        ).alias("bands"),
    )
    return banded_keys.select("id", F.explode("bands").alias("bk")).select(
        "id", "bk.band_idx", "bk.band_key"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    portable: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard ≥ threshold).

    Plan: per-doc shingle+signature map stage → explode bands →
    bucket pair expansion on (band_idx, band_key) → distinct candidate
    pairs → exact-Jaccard verify on the shingle sets. The only shuffles
    are the band bucketing and the final distinct.

    ``max_bucket`` is the candidate-budget knob (the v09 upstream-cap
    pattern): each (band, key) bucket keeps only its ``max_bucket``
    lowest ids (total order: id), bounding per-bucket pair fan-out to
    C(max_bucket, 2) BY CONTRACT instead of by corpus statistics — on
    an adversarial low-diversity corpus (the r6 skew gate's zipf vocab)
    unbudgeted bucket occupancy is what made the funnel's near-dup
    stage its one real engine mover (3.5×). The cap compiles to a
    rank≤K window = WindowGroupLimit, so map tasks pre-truncate hot
    buckets before the shuffle ever carries them; the follow-up
    collect_list buffer is then bounded too. Deterministic (lowest-id
    survivors), hence fully oracle-replayable; recall loss is confined
    to pairs BOTH of whose members sort past the cap in EVERY shared
    bucket. ``None`` keeps the exact LSH semantics (d02 parity).
    """
    if max_bucket is not None and max_bucket < 2:
        raise ValueError("max_bucket must be >= 2 (a bucket needs a pair)")
    sh = minhash_sketch(df, id_col, text_col, k, portable)
    banded = minhash_band_keys(sh, num_hashes, bands)
    if max_bucket is not None:
        wb = Window.partitionBy("band_idx", "band_key").orderBy("id")
        banded = (
            banded.withColumn("__rn", F.row_number().over(wb))
            .where(F.col("__rn") <= max_bucket)
            .drop("__rn")
        )
    # Candidate generation carries IDs only, via ONE pass: group ids per
    # (band, key) bucket and expand in-bucket pairs. A self-join instead
    # would recompute the whole signature lineage per side (no CSE across
    # join branches) and shuffle twice. Bucket sizes are LSH-bounded
    # (collisions ≈ near-dup groups), so the in-bucket pair product is
    # small by construction.
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    cand = _bucket_pairs(buckets)
    return jaccard_verify(cand, sh.select("id", "h60"), jaccard_threshold, on="h60")


def minhash_estimate_vs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    portable: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Sketch-quality measurement: for every verified near-dup pair,
    the MinHash-ESTIMATED Jaccard (matching signature components /
    num_hashes) next to the exact shingle Jaccard, with the absolute
    error. The operational dial a 100 TB dedup run needs when choosing
    num_hashes/bands: measured estimator error on the corpus itself,
    computed in-engine from the SAME staged sketch the dedup path
    uses (one shingle scan; signature and verify both reuse it —
    no second pass over the text).

    ``max_bucket`` is the same candidate-budget knob as
    ``minhash_lsh_pairs``: each (band, key) bucket keeps only its
    ``max_bucket`` lowest ids (rank ≤ K pre-truncation — Spark rewrites
    it to WindowGroupLimit, so a hot bucket is cut BEFORE the
    collect_list materializes it), bounding per-bucket pair fan-out at
    C(max_bucket, 2) BY CONTRACT — the election for skewed corpora
    where a hot bucket makes the audit itself output-quadratic.

    Output: id_a, id_b, est_matches (0..num_hashes), est_jaccard,
    jaccard (exact, rounded 6), abs_err (rounded 6).
    """
    if max_bucket is not None and max_bucket < 2:
        raise ValueError("max_bucket must be >= 2 (a bucket needs a pair)")
    sh = minhash_sketch(df, id_col, text_col, k, portable)
    # ONE signature aggregation: band keys and the estimator columns
    # both derive from this staged frame (the naive spelling pays
    # the sketch-wide min-aggregate shuffle twice).
    sig = stage(minhash_signature(sh, num_hashes))
    banded = band_keys_from_signature(sig, num_hashes, bands)
    if max_bucket is not None:
        w = Window.partitionBy("band_idx", "band_key").orderBy("id")
        banded = (
            banded.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= max_bucket)
            .drop("__rn")
        )
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = jaccard_verify(
        _bucket_pairs(buckets), sh.select("id", "h60"), jaccard_threshold, on="h60"
    )
    sig_a = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sig_b = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    est_matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(num_hashes)
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            est_matches.alias("est_matches"),
            "jaccard",
        )
        .select(
            "id_a",
            "id_b",
            "est_matches",
            F.round(F.col("est_matches") / F.lit(num_hashes), 6).alias(
                "est_jaccard"
            ),
            "jaccard",
            F.round(
                F.abs(F.col("est_matches") / F.lit(num_hashes) - F.col("jaccard")),
                6,
            ).alias("abs_err"),
        )
    )


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    """Expand each bucket's sorted ``ids`` array into distinct ordered
    pairs (id_a < id_b). In-bucket expansion instead of a self-join: one
    pass, no second shuffle, and no recomputation of the bucket lineage
    per join branch."""
    return _bucket_pair_occurrences(buckets).dropDuplicates(["id_a", "id_b"])


def _bucket_pair_occurrences(buckets: DataFrame) -> DataFrame:
    """Expand each bucket's sorted ``ids`` array into ordered pairs
    (id_a < id_b) WITH multiplicity — one row per bucket containing the
    pair, so a follow-up count per pair equals the number of shared
    bucket keys (= shared shingles when buckets are the inverted
    index)."""
    return (
        buckets.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            "ids",
                            lambda x: F.transform(
                                F.col("ids"),
                                lambda y: F.struct(
                                    x.alias("id_a"), y.alias("id_b")
                                ),
                            ),
                        )
                    ),
                    lambda p: p["id_a"] < p["id_b"],
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )


# --- SimHash -------------------------------------------------------------

SIMHASH_BITS = 60  # fits the portable 60-bit hash; keeps sign bit clear


def simhash(col: Column | str, portable: bool = True) -> Column:
    """60-bit SimHash over whitespace tokens: bit b is 1 iff at least half
    of the token hashes have bit b set (majority vote, ties → 1)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    toks = F.split(norm, " ")
    hashes = F.transform(toks, lambda t: hash64(t, 0, portable))
    n = F.size(hashes)
    # shiftright/shiftleft via call_function: the Python wrappers only
    # accept int shift amounts, but the SQL functions take expressions.
    bit_contrib = F.transform(
        F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
        lambda bit: F.when(
            2
            * F.aggregate(
                hashes,
                F.lit(0).cast("bigint"),
                lambda acc, h: acc
                + F.call_function("shiftright", h, bit).bitwiseAND(F.lit(1)),
            )
            >= n,
            F.call_function("shiftleft", F.lit(1).cast("bigint"), bit),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(bit_contrib, F.lit(0).cast("bigint"), lambda a, x: a + x)


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, portable: bool = True
) -> DataFrame:
    """(id, fp) via explode → 60 conditional-sum aggregates — the
    codegen-friendly formulation of ``simhash`` (identical bit math;
    the array-lambda version is interpreted per element by Catalyst)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(F.split(norm, " ")).alias("t")
    ).withColumn("h", hash64(F.col("t"), 0, portable))
    sums = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    fp = None
    for b in range(SIMHASH_BITS):
        contrib = F.when(
            2 * F.col(f"b{b}") >= F.col("n"),
            F.lit(1 << b).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        fp = contrib if fp is None else fp + contrib
    return sums.select("id", fp.alias("fp"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _first_match_chunk(fa: Column, fb: Column, chunks: int, chunk_bits: int) -> Column:
    """Index of the lowest chunk on which two fingerprints agree (null if
    none), pure bit math over the XOR. A joined candidate pair matches on
    1–``chunks`` chunk keys; keeping only the row whose join chunk equals
    this index emits each pair exactly once — replacing a
    ``dropDuplicates`` over the full candidate stream (a second full
    shuffle, ~3× the verified output at sf1) with a rowwise filter."""
    x = fa.bitwiseXOR(fb)
    mask = (1 << chunk_bits) - 1
    out: Column | None = None
    for i in range(chunks):
        eq = F.shiftright(x, i * chunk_bits).bitwiseAND(F.lit(mask)) == 0
        out = F.when(eq, F.lit(i)) if out is None else out.when(eq, F.lit(i))
    return out


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    chunks: int = 4,
    portable: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share at least one of
    ``chunks`` 15-bit fingerprint segments (pigeonhole: any pair within
    Hamming distance < chunks must collide on ≥1 chunk); verified by
    exact Hamming distance ≤ ``max_hamming``... candidate recall for
    distances ≥ chunks is partial by design (standard chunk-LSH)."""
    # staged: both self-join sides read it; fingerprinting is the hot
    # stage
    fp = stage(simhash_table(df, id_col, text_col, portable))
    return fingerprint_chunk_pairs(fp, max_hamming, chunks)


def fingerprint_chunk_pairs(
    fp: DataFrame,
    max_hamming: int = 8,
    chunks: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Chunk-LSH candidate join + exact Hamming verify over a generic
    (id, fp) fingerprint table — the pairing stage shared by SimHash
    (d03/u18, token-hash fingerprints) and image dHash (u69, pixel
    fingerprints). Candidates share at least one of ``chunks`` equal
    fingerprint segments (pigeonhole: any pair within Hamming distance
    < chunks must collide on >=1 chunk); each pair is emitted from its
    FIRST matching chunk only (rowwise bit math, no dedup shuffle) and
    verified at exact Hamming <= ``max_hamming`` before any exchange.
    The caller should stage ``fp`` — both self-join sides read it."""
    chunk_bits = bits // chunks
    chunked = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright(F.col("fp"), i * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("chunk_val"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "fp", "c.chunk_idx", "c.chunk_val")
    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        # each pair emitted from its first matching chunk only (no
        # dedup shuffle), hamming verify applied before any exchange
        .where(
            (
                F.col("a.chunk_idx")
                == _first_match_chunk(
                    F.col("a.fp"), F.col("b.fp"), chunks, chunk_bits
                )
            )
            & (hamming64(F.col("a.fp"), F.col("b.fp")) <= max_hamming)
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.fp"), F.col("b.fp")).alias("hamming"),
        )
    )


def simhash_diversity(fp: DataFrame) -> float:
    """Distinct-fingerprint ratio of a ``simhash_table`` result — the
    cheap density statistic (one aggregate over the already-staged
    fp table). Low diversity means doc-level pair emission is
    O(n²·(1−diversity)): the sf1 scale-proof measured 130.8M pairs from
    100k docs on the 31-word synthetic vocabulary."""
    row = fp.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("fp").alias("d"),
    ).first()
    return (row["d"] / row["n"]) if row["n"] else 1.0


def simhash_group_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    chunks: int = 4,
    portable: bool = True,
) -> DataFrame:
    """Density-proof SimHash near-dup summary: pairs of FINGERPRINT
    GROUPS, not documents — the structural guard for low-diversity
    corpora where ``simhash_pairs``'s doc-level output goes quadratic
    (the round-4 sf1 finding: the RESULT, not the computation, was the
    bottleneck).

    Identical-fingerprint documents collapse into one group row first;
    chunk-LSH candidate generation and Hamming verification then run
    over DISTINCT fingerprints only. Output schema
    ``(fp_a, fp_b, hamming, docs_a, docs_b, n_pairs)`` where diagonal
    rows (fp_a = fp_b, hamming 0) carry the C(n,2) within-group pairs
    and cross rows carry docs_a·docs_b pairs.

    LOSSLESS: chunk membership is a function of the fingerprint alone,
    so the doc-level candidate set of ``simhash_pairs`` is exactly this
    result exploded by group membership — Σ n_pairs equals the
    doc-level row count, and joining each side back to the fingerprint
    table reproduces every pair (unit-tested). Output is bounded by
    distinct-fingerprint candidate pairs: n_distinct² / 2^chunk_bits
    expected, independent of corpus row count — on a corpus of 100k
    docs with 1k distinct fingerprints this emits ≤ ~500k rows where
    the doc-level form emits ~10⁸."""
    fp = simhash_table(df, id_col, text_col, portable)
    return fingerprint_group_pairs(fp, max_hamming, chunks)


def fingerprint_group_pairs(
    fp: DataFrame,
    max_hamming: int = 8,
    chunks: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Group-level chunk-LSH pairing over a generic (id, fp) fingerprint
    table — the clone-family-bounded twin of ``fingerprint_chunk_pairs``,
    shared by SimHash (u18) and image dHash (u69).

    Identical fingerprints collapse into one group row FIRST (the
    d01-style exact-dedup pre-pass), so a family of n exact clones costs
    one diagonal row carrying ``n_pairs = C(n,2)`` instead of C(n,2)
    emitted pairs — the round-7 u69 finding, where hamming-0 clone
    families made the doc-level pair stage output-quadratic at sf3.
    Chunk-LSH candidate generation, first-match-chunk emission, and
    exact Hamming verification then run over DISTINCT fingerprints only.
    Output schema ``(fp_a, fp_b, hamming, docs_a, docs_b, n_pairs)``:
    diagonal rows (fp_a = fp_b, hamming 0) carry within-group pairs,
    cross rows carry docs_a·docs_b pairs.

    LOSSLESS w.r.t. the doc-level form: chunk membership is a function
    of the fingerprint alone, so exploding each row by group membership
    reproduces ``fingerprint_chunk_pairs`` exactly and Σ n_pairs equals
    its row count (unit-tested). Output is bounded by
    distinct-fingerprint candidate pairs, independent of corpus size."""
    chunk_bits = bits // chunks
    # staged: feeds the diagonal and both join sides
    groups = stage(fp.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs")))
    diag = groups.where(F.col("n_docs") >= 2).select(
        F.col("fp").alias("fp_a"),
        F.col("fp").alias("fp_b"),
        F.lit(0).cast("int").alias("hamming"),
        F.col("n_docs").alias("docs_a"),
        F.col("n_docs").alias("docs_b"),
        F.expr("n_docs * (n_docs - 1) div 2").alias("n_pairs"),
    )
    chunked = groups.select(
        "fp",
        "n_docs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright(F.col("fp"), i * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("chunk_val"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("fp", "n_docs", "c.chunk_idx", "c.chunk_val")
    cross = (
        chunked.alias("a")
        .join(
            chunked.alias("b"),
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.fp") < F.col("b.fp")),
        )
        # first-matching-chunk emission + early hamming verify: no
        # dedup shuffle over the candidate stream (see _first_match_chunk)
        .where(
            (
                F.col("a.chunk_idx")
                == _first_match_chunk(
                    F.col("a.fp"), F.col("b.fp"), chunks, chunk_bits
                )
            )
            & (hamming64(F.col("a.fp"), F.col("b.fp")) <= max_hamming)
        )
        .select(
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
            hamming64(F.col("a.fp"), F.col("b.fp")).cast("int").alias("hamming"),
            F.col("a.n_docs").alias("docs_a"),
            F.col("b.n_docs").alias("docs_b"),
            (F.col("a.n_docs") * F.col("b.n_docs")).alias("n_pairs"),
        )
    )
    return diag.unionByName(cross)


# --- n-gram Jaccard via inverted index -----------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    jaccard_threshold: float = 0.5,
    max_df: int = 50,
    portable: bool = True,
) -> DataFrame:
    """Jaccard over the k-word shingles that survive a document-frequency
    cut: shingles appearing in more than ``max_df`` documents ("head"
    shingles — stopword-like n-grams) are dropped from BOTH the inverted
    index and the verification sets, the standard MinHash-era stopword
    practice. The DF cut is what bounds the work: without it a head
    shingle generates O(DF²) candidate pairs and an unbounded
    ``collect_list`` bucket, and exact verification drags every pair's
    full shingle multiset through the join. With it, bucket size ≤
    ``max_df`` by construction and the verify joins only carry
    discriminative shingles. Recall trade: a pair is missed only if its
    similarity lives ENTIRELY in head shingles — such pairs share only
    near-ubiquitous n-grams and are noise for dedup purposes.

    Shingles are carried as their 60-bit hashes end-to-end (same
    negligible-collision argument as the MinHash path): bigint keys make
    the inverted-index groupBy and the wide verification joins shuffle a
    fraction of the string bytes."""
    return _jaccard_from_kept(
        _df_cut(minhash_sketch(df, id_col, text_col, k, portable), max_df),
        jaccard_threshold,
    )


def _df_cut(sh: DataFrame, max_df: int) -> DataFrame:
    """A staged sketch minus its head shingles, itself staged: the
    broadcast anti-join prunes the sketch before any index build, so no
    shingle key carries more than ``max_df`` ids, and the cut feeds
    several consumers (both self-join sides, the set sizes) that would
    each re-run the head aggregate over an uncached lineage."""
    return stage(sh.join(F.broadcast(head_shingles(sh, max_df)), "h60", "left_anti"))


def _jaccard_from_kept(kept: DataFrame, jaccard_threshold: float) -> DataFrame:
    """Jaccard pairs from a DF-cut (id, h60) inverted index.

    Intersection counts via a SELF-JOIN of the index on the shingle
    hash: each h60 key contributes C(df,2) ordered pairs directly inside
    whole-stage codegen. Replaces the earlier collect_list-bucket +
    array-HOF expansion, which built n² interpreted struct allocations
    per bucket before filtering the upper triangle — the exact HOF tax
    PERF.md item 2 measures (16.1 s → 4.7 s for this stage at sf0.1).
    Output volume is the same DF-bounded Σ_s C(df_s, 2) ≤
    (max_df-1)/2 · |kept|, and per-key join fan-out is capped at max_df
    rows a side, so the join carries no skew risk at corpus scale. The
    textbook alternative (distinct candidates, then join each pair back
    to both documents' full shingle sets) stays ~30× worse — it drags
    |pairs| · avg_doc_shingles rows through two extra joins."""
    inter = (
        kept.alias("a")
        .join(kept.alias("b"), "h60")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = kept.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def build_sketch_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = 3,
    portable: bool = True,
) -> None:
    """MinHash-sketch index lifecycle root: sketch the corpus ONCE and
    publish the (id, h60) rows as the stored table ``path/sketch``, with
    self-describing ``_meta.json`` (same lifecycle contract as the
    n-gram index: build → probe/ingest → compact, all CLI-operable).
    Every later ingest batch reads the sketch back — no per-batch corpus
    re-shingling, no corpus self-join. Repartitioned on id so an
    incremental band join shuffles only the (small) arrival side."""
    # ids stored as bigint so the pinned read schema holds across builds
    snapshot.write(
        shingle_hashes(df, id_col, text_col, k, portable)
        .select(F.col("id").cast("long").alias("id"), "h60")
        .repartition("id"),
        path + "/sketch",
    )
    _write_index_meta(path, {"kind": "minhash", "k": k, "portable": portable})


def read_sketch_index(spark: SparkSession, path: str) -> DataFrame:
    return snapshot.read(spark, path + "/sketch", "id bigint, h60 bigint")


def append_to_sketch_index(
    arrivals: DataFrame,
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Ingest an arrival batch into a stored MinHash sketch: sketch the
    batch with the index's own build parameters and publish the current
    snapshot plus the batch's files — linear in the batch, the corpus
    sketch is never rewritten. (Unlike the n-gram index there is no
    frozen statistic here: the sketch is exact per document, so append
    drift cannot occur.)"""
    meta = read_index_meta(path)
    with released(
        minhash_sketch(arrivals, id_col, text_col, meta["k"], meta["portable"])
    ) as sh:
        n = sh.count()
        snapshot.write(
            sh.select(F.col("id").cast("long").alias("id"), "h60").repartition("id"),
            path + "/sketch",
            append=True,
        )
    return n


def incremental_neardup_against(
    arrivals: DataFrame,
    stored_sketch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    portable: bool = True,
) -> DataFrame:
    """Near-dup check of an arrival batch against a STORED corpus sketch
    (the streaming-ingest dedup shape, u12's premise made an API).
    ``portable`` must match the stored sketch's hash mode (the CLI
    passes the index meta's recorded flag) — a mismatched hash would
    produce empty band intersections, i.e. silently zero matches.

    Work per batch: shingle+sketch the arrivals, band BOTH sides (band
    keys are cheap min-aggregates over the sketch — the stored table is
    the expensive artifact), one asymmetric band join, exact-Jaccard
    rerank of the candidates. Returns (new_id, corpus_id, jaccard).
    The corpus is never self-joined and never re-shingled.

    Sizes and intersections are computed PER SIDE (arrival rows vs
    corpus rows), never from their union: an arrival whose id already
    exists in the corpus — the routine replay/idempotent-ingest case —
    would double its union size and drive the Jaccard denominator to
    exactly zero. A replayed document instead reports itself as a
    (new_id = corpus_id, jaccard 1.0) match, the honest signal."""
    sh_new = minhash_sketch(arrivals, id_col, text_col, k, portable=portable)
    bands_new = minhash_band_keys(sh_new)
    bands_corpus = minhash_band_keys(stored_sketch)
    cand = (
        bands_new.withColumnsRenamed({"id": "id_a"})
        .join(bands_corpus.withColumnsRenamed({"id": "id_b"}), ["band_idx", "band_key"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    inter = (
        cand.join(sh_new.withColumnsRenamed({"id": "id_a"}), "id_a")
        .join(stored_sketch.withColumnsRenamed({"id": "id_b"}), ["id_b", "h60"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_new = sh_new.groupBy("id").agg(F.count(F.lit(1)).alias("sz_a"))
    sz_corpus = stored_sketch.groupBy("id").agg(F.count(F.lit(1)).alias("sz_b"))
    return (
        inter.join(sz_new.withColumnsRenamed({"id": "id_a"}), "id_a")
        .join(sz_corpus.withColumnsRenamed({"id": "id_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("corpus_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


# --- stored n-gram inverted index ----------------------------------------


def write_ngram_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = 3,
    max_df: int = 50,
    portable: bool = True,
    hash_dirs: int = 16,
) -> None:
    """Materialize the DF-cut (id, h60) inverted index as a stored
    parquet table — the n-gram analogue of ``build_sketch_index``
    (VERDICT r3 #3): the corpus is shingled, hashed, and head-cut ONCE
    when a snapshot is built; every later Jaccard query (full-corpus
    pairs or an arrival batch probe) reads the index back instead of
    re-paying the shingle scan and the head aggregate — the dominant
    cold cost at corpus scale.

    Layout: ``path/kept`` holds the (id, h60) rows directory-partitioned
    by ``hb = pmod(h60, hash_dirs)`` — a stable hash-range partitioning,
    so (a) readers parallelize across the hash space without a
    shuffle-inducing sort, and (b) a targeted probe of specific shingle
    hashes partition-prunes to its hb dirs, the same layout-as-index
    trick the stored IVF table uses with centroid ids. ``path/head``
    holds the cut heavy-hitter h60 set (tiny by construction —
    broadcastable at any corpus size) so incremental batches can apply
    the SAME cut to their side and keep Jaccard semantics identical to
    the full-corpus query."""
    with released(minhash_sketch(df, id_col, text_col, k, portable)) as sh:
        head = head_shingles(sh, max_df)
        head.write.mode("overwrite").parquet(path + "/head")
        snapshot.write(
            sh.join(F.broadcast(head), "h60", "left_anti")
            .select(F.col("id").cast("long").alias("id"), "h60")
            .withColumn("hb", F.pmod("h60", F.lit(hash_dirs)))
            .repartition("hb"),
            path + "/kept",
            partition_by=["hb"],
        )
    _write_index_meta(
        path,
        {
            "kind": "ngram",
            "k": k,
            "max_df": max_df,
            "portable": portable,
            "hash_dirs": hash_dirs,
        },
    )


def _write_index_meta(path: str, meta: dict) -> None:
    """Persist the index's build parameters next to its data so lifecycle
    operations (ingest/probe/compact, the CLI) are self-describing — a
    probe with a different k or hash would silently return garbage."""
    snapshot.write_json(os.path.join(path, "_meta.json"), meta)


def read_index_meta(path: str) -> dict:
    with open(os.path.join(path, "_meta.json"), encoding="utf-8") as f:
        return json.load(f)


# each index kind's data table under the index root, and its partition column
_DATA_TABLES = {
    "minhash": ("sketch", None),
    "ngram": ("kept", "hb"),
    "ivf": ("data", "cent_id"),
    "ivfpq": ("data", "cent_id"),
}


def compact_index(
    spark: SparkSession, path: str, files_per_partition: int = 1
) -> dict[str, int]:
    """Rewrite a stored index's data table with ``files_per_partition``
    files per partition directory (or per table when unpartitioned) —
    the maintenance job for append-heavy indexes, where each ingest
    batch adds one small file set per touched partition and the FILE
    COUNT (not bytes) becomes the probe bottleneck. This is the keyed
    sink's own ``compact_partitions``, published the same way: a probe
    that resolved the previous snapshot still finds its files. Rows move
    between files, never change, so results are bit-identical across a
    compaction — lifecycle-tested for every stored index kind."""
    from gov_ec_pipeline_etl_spark.sinks.upsert import compact_partitions

    name, part = _DATA_TABLES[read_index_meta(path)["kind"]]
    table = os.path.join(path, name)
    snapshot.require(table)
    return compact_partitions(
        spark, table, [part] if part else None, files_per_partition
    )


def append_to_ngram_index(
    arrivals: DataFrame,
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Extend a stored n-gram index with an arrival batch — the ingest
    half of the index lifecycle (build → probe/ingest → compact).

    Arrivals are shingled with the index's OWN build parameters
    (``_meta.json``) and cut by the STORED head set, then appended into
    the same hb directory layout — per-batch work is linear in the
    batch, the corpus rows are never rewritten. The head set is frozen
    between rebuilds (the standard cached-stopword-list trade every
    deployed inverted index makes): shingles that become heavy only
    through arrivals keep indexing until a rebuild recomputes the cut.
    Returns the number of appended (id, h60) rows."""
    meta = read_index_meta(path)
    head = read_ngram_head(spark, path)
    with released(
        stage(
            shingle_hashes(arrivals, id_col, text_col, meta["k"], meta["portable"])
            .join(F.broadcast(head), "h60", "left_anti")
            .select(F.col("id").cast("long").alias("id"), "h60")
            .withColumn("hb", F.pmod("h60", F.lit(meta["hash_dirs"])))
        )
    ) as sh_new:
        n = sh_new.count()
        snapshot.write(
            sh_new.repartition("hb"), path + "/kept", partition_by=["hb"], append=True
        )
    return n


def read_ngram_index(spark: SparkSession, path: str) -> DataFrame:
    """(id, h60) rows of a stored index (hb is layout, not payload).

    The schema is pinned (ids are stored as bigint) so a legitimately
    EMPTY index stays readable: a corpus where every shingle exceeds
    max_df — e.g. a uniform closed vocabulary at scale — has no
    discriminative shingles, the cut keeps nothing, and Spark's
    partitioned writer emits no files to infer a schema from."""
    return snapshot.read(
        spark, path + "/kept", "id bigint, h60 bigint, hb int"
    ).select("id", "h60")


def read_ngram_head(spark: SparkSession, path: str) -> DataFrame:
    """The stored index's cut heavy-hitter shingle-hash set (h60)."""
    return spark.read.schema("h60 bigint").parquet(path + "/head").select("h60")


def ngram_pairs_from_index(
    spark: SparkSession, path: str, jaccard_threshold: float = 0.5
) -> DataFrame:
    """Jaccard near-dup pairs computed from a STORED inverted index:
    read-back + self-join — no shingling, no head aggregate. This is
    d04's amortized deployment form; results are identical to
    ``ngram_jaccard_pairs`` on the corpus the index was built from."""
    return _jaccard_from_kept(read_ngram_index(spark, path), jaccard_threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.9,
    max_df: int = 50,
    portable: bool = True,
) -> DataFrame:
    """Containment |A∩B| / min(|A|,|B|) ≥ threshold over DF-CUT shingle
    sets — catches subset/superset duplication that symmetric Jaccard
    underweights.

    The document-frequency cut carries the same recall argument as
    ``ngram_jaccard_pairs``: an embedded document shares its RARE
    shingles with its container, so subset/superset pairs survive the
    cut, while pairs sharing only stopword-grade shingles are noise.
    What the cut buys is the scale bound — inverted-index expansion ≤
    Σ C(df,2) ≤ (max_df−1)/2 · |kept|. The uncut self-join this
    replaces is quadratic in per-shingle df: on the sf1 synthetic
    corpus (31-word vocabulary, avg 3-gram df ≈ 200 across 100k dirty
    docs) it generated ~600M join rows and ran >20 min in BOTH engines,
    the round-4 scale-proof's clearest lesson. Sets (and sizes) are the
    post-cut sets, consistently on both sides of the oracle."""
    kept = _df_cut(minhash_sketch(df, id_col, text_col, k, portable), max_df)
    inter = (
        kept.alias("a")
        .join(kept.alias("b"), "h60")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = kept.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn("containment", F.col("inter") / F.least("sz_a", "sz_b"))
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )


def ngram_incremental_against_index(
    arrivals: DataFrame,
    spark: SparkSession,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    portable: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard of an arrival batch against a STORED corpus
    inverted index (``write_ngram_index``) — the ingest-time companion
    to ``incremental_neardup_against`` for pipelines that want exact
    Jaccard rather than MinHash candidates.

    Per batch: shingle+hash the arrivals, drop the CORPUS head set
    (read back from ``path/head`` and broadcast — so both sides carry
    exactly the corpus cut and the Jaccard semantics match the
    full-corpus d04/u14 query), then ONE asymmetric join of arrival
    rows against index rows on h60. The corpus is never re-shingled
    and never self-joined; per-batch work is linear in the batch plus
    the matched index rows."""
    head = read_ngram_head(spark, index_path)
    sh_new = stage(
        shingle_hashes(arrivals, id_col, text_col, k, portable).join(
            F.broadcast(head), "h60", "left_anti"
        )
    )
    corpus = read_ngram_index(spark, index_path)
    inter = (
        sh_new.withColumnsRenamed({"id": "new_id"})
        .join(corpus.withColumnsRenamed({"id": "corpus_id"}), "h60")
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes_new = sh_new.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sizes_corpus = corpus.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        inter.join(
            sizes_new.withColumnsRenamed({"id": "new_id", "sz": "sz_a"}), "new_id"
        )
        .join(
            sizes_corpus.withColumnsRenamed({"id": "corpus_id", "sz": "sz_b"}),
            "corpus_id",
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard"))
    )
