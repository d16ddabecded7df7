"""Published-method quality/data-selection queries (u36–u40).

Gopher repetition rules, DSIR importance weights, a one-pass Naive
Bayes quality classifier, tokenizer fertility, and cluster-balanced
diversity sampling — the data-selection layer a pretraining pipeline
runs on top of the dedup tier (u30–u35). Every query carries a full
DuckDB oracle replaying the same arithmetic (rounded floats, portable
md5 hashes, unrolled Lloyd chain), so "train + apply" model queries are
hash-gated like the relational ones.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gov_ec_pipeline_etl_spark.functions.hashing import portable_hash64_sql
from gov_ec_pipeline_etl_spark.operators.quality import (
    GOPHER_DUP5_THRESHOLD,
    GOPHER_TOP_THRESHOLDS,
)
from gov_ec_pipeline_etl_spark.plans.dedup_queries import NORM_SQL, TOKS_SQL
from gov_ec_pipeline_etl_spark.plans.registry import register
from gov_ec_pipeline_etl_spark.plans.util import T

DSIR_BUCKETS = 512
DSIR_TARGET_SOURCE = "src0"


def _pos_grams_sql(n: int) -> str:
    """ALL positional n-grams (with multiplicity) over a prior ``toks``
    list column; empty when the document has fewer than n tokens
    (``range`` is empty) — mirrors the operator's lead-window stream."""
    return (
        f"list_transform(range(1, len(toks) - {n} + 2), "
        f"i -> array_to_string(toks[i:i + {n - 1}], ' '))"
    )


def _gopher_oracle() -> str:
    gram_selects = "\n          UNION ALL ".join(
        f"SELECT doc_id, nc, {n} AS n, unnest({_pos_grams_sql(n)}) AS s "
        "FROM toksed"
        for n in (2, 3, 4, 5)
    )
    t = GOPHER_TOP_THRESHOLDS
    return f"""
        WITH toksed AS (
          SELECT doc_id, len({NORM_SQL}) AS nc, {TOKS_SQL} AS toks
          FROM documents
        ),
        grams AS (
          {gram_selects}
        ),
        occ AS (
          SELECT doc_id, nc, n, s, COUNT(*) AS c
          FROM grams GROUP BY doc_id, nc, n, s
        ),
        per_n AS (
          SELECT doc_id, nc, n,
                 MAX(c * len(s)) AS top_mass,
                 SUM(CASE WHEN c >= 2 THEN c * len(s) ELSE 0 END) AS dup_mass
          FROM occ GROUP BY doc_id, nc, n
        ),
        fr AS (
          SELECT doc_id,
            COALESCE(MAX(CASE WHEN n = 2
              THEN ROUND(top_mass / nc, 6) END), 0.0) AS top2_frac,
            COALESCE(MAX(CASE WHEN n = 3
              THEN ROUND(top_mass / nc, 6) END), 0.0) AS top3_frac,
            COALESCE(MAX(CASE WHEN n = 4
              THEN ROUND(top_mass / nc, 6) END), 0.0) AS top4_frac,
            COALESCE(MAX(CASE WHEN n = 5
              THEN ROUND(dup_mass / nc, 6) END), 0.0) AS dup5_frac
          FROM per_n GROUP BY doc_id
        )
        SELECT doc_id AS id, top2_frac, top3_frac, top4_frac, dup5_frac,
               CAST(CASE WHEN top2_frac > {t[2]} OR top3_frac > {t[3]}
                         OR top4_frac > {t[4]}
                         OR dup5_frac > {GOPHER_DUP5_THRESHOLD}
                    THEN 1 ELSE 0 END AS INT) AS flagged
        FROM fr
    """


@register(
    "u36_gopher_repetition",
    bench=True,
    oracle=_gopher_oracle(),
    doc="Gopher repetition rules (Rae et al. 2021, Table A1): per-doc "
    "character-mass fraction of the most frequent 2/3/4-gram and of "
    "within-document duplicate 5-grams, with the paper's thresholds "
    "(0.20/0.18/0.16/0.15) as the drop flag. Purely per-document — no "
    "cross-doc state — so the operator is one token-explode window "
    "exchange and then id-prefixed aggregates that reuse its "
    "partitioning: exactly ONE shuffle at any corpus size.",
    tags=("llm-pipeline", "text", "quality", "repetition"),
)
def u36_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.operators.quality import gopher_repetition

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_repetition(docs, "doc_id", "text")


@register(
    "u37_dsir_weights",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, source = '{DSIR_TARGET_SOURCE}' AS is_t,
                 unnest({TOKS_SQL}) AS t
          FROM documents
        ),
        hb AS (
          SELECT doc_id, is_t,
                 {portable_hash64_sql("t")} % {DSIR_BUCKETS} AS b
          FROM toks
        ),
        bt AS (
          SELECT b,
                 SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tb,
                 SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS rb
          FROM hb GROUP BY b
        ),
        tot AS (SELECT SUM(tb) AS tt, SUM(rb) AS rt FROM bt),
        db AS (
          SELECT doc_id, b, COUNT(*) AS m FROM hb GROUP BY doc_id, b
        ),
        sc AS (
          SELECT doc_id,
                 CAST(SUM(m) AS BIGINT) AS n_toks,
                 ROUND(SUM(m * (ln((tb + 1) / (tt + {DSIR_BUCKETS}))
                              - ln((rb + 1) / (rt + {DSIR_BUCKETS})))),
                       6) AS log_ratio
          FROM db JOIN bt USING (b), tot
          GROUP BY doc_id
        )
        SELECT doc_id AS id, n_toks, log_ratio,
               CAST(CASE WHEN log_ratio > 0 THEN 1 ELSE 0 END AS INT)
                 AS selected
        FROM sc
    """,
    doc="DSIR hashed-n-gram importance weights (Xie et al. 2023): "
    "score each document by the log-likelihood ratio of its hashed "
    "unigram bag under the target-domain bucket distribution "
    f"(source = {DSIR_TARGET_SOURCE!r} as the target sample) vs the "
    "raw corpus, add-one smoothed over 512 buckets; positive weight = "
    "resample toward target. The 512-row bucket table is fixed-width "
    "BY CONSTRUCTION — DSIR's point — so the model broadcasts at any "
    "corpus size and scoring is one broadcast join + one per-doc sum.",
    tags=("llm-pipeline", "text", "quality", "selection"),
)
def u37_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.operators.quality import dsir_logweights

    docs = T(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return dsir_logweights(
        docs,
        "doc_id",
        "text",
        target=F.col("source") == DSIR_TARGET_SOURCE,
        buckets=DSIR_BUCKETS,
    )


@register(
    "u38_nb_classifier",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, source AS label, unnest({TOKS_SQL}) AS t
          FROM documents
        ),
        cond AS (
          SELECT t, label, COUNT(*) AS ctc FROM toks GROUP BY t, label
        ),
        cls AS (
          SELECT label, CAST(SUM(ctc) AS BIGINT) AS tot
          FROM cond GROUP BY label
        ),
        docs AS (SELECT doc_id AS id, source AS label FROM documents),
        pri AS (SELECT label, COUNT(*) AS nd FROM docs GROUP BY label),
        nn AS (SELECT COUNT(*) AS n FROM docs),
        voc AS (SELECT COUNT(DISTINCT t) AS v FROM cond),
        dt AS (
          SELECT doc_id AS id, t, COUNT(*) AS m FROM toks
          GROUP BY doc_id, t
        ),
        pairs AS (
          SELECT dt.id, c.label AS cls,
                 dt.m * ln((COALESCE(k.ctc, 0) + 1) / (c.tot + voc.v))
                   AS term
          FROM dt CROSS JOIN cls c
          LEFT JOIN cond k ON k.t = dt.t AND k.label = c.label, voc
        ),
        scores AS (
          SELECT p.id, p.cls,
                 ROUND(SUM(p.term) + ln(pri.nd / nn.n), 6) AS score
          FROM pairs p JOIN pri ON pri.label = p.cls, nn
          GROUP BY p.id, p.cls, pri.nd, nn.n
        ),
        pred AS (
          SELECT id, cls AS predicted FROM (
            SELECT id, cls,
                   ROW_NUMBER() OVER (
                     PARTITION BY id ORDER BY score DESC, cls ASC
                   ) AS rn
            FROM scores
          ) WHERE rn = 1
        )
        SELECT d.label, p.predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM docs d JOIN pred p ON p.id = d.id
        GROUP BY d.label, p.predicted
    """,
    doc="One-pass multinomial Naive Bayes trained on the corpus' own "
    "source labels and applied back (resubstitution confusion matrix) "
    "— the closed-form stand-in for the fastText quality classifiers "
    "of GPT-3/CCNet (Brown et al. 2020 App. A): 'train + apply a "
    "classifier' as a single declarative plan. The model (token×class "
    "counts, totals, priors, vocab) is ONE aggregation pass; scoring "
    "is doc-token rows × |classes| with the class table broadcast; "
    "the argmax is a per-doc window over |classes| rows. Scores round "
    "to 6 decimals before the argmax, ties break toward the smaller "
    "class name — cross-engine deterministic.",
    tags=("llm-pipeline", "text", "quality", "classifier"),
)
def u38_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.operators.quality import nb_source_confusion

    docs = T(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return nb_source_confusion(docs, "doc_id", "text", "source")


@register(
    "u39_token_fertility",
    oracle="""
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                    END) AS BIGINT) AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
                 AS bpe_tokens,
               ROUND(SUM(len(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')))
                 / SUM(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                       END), 6) AS fertility,
               ROUND(SUM(n_chars)
                 / SUM(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                       END), 6) AS chars_per_token
        FROM documents
        GROUP BY lang, source
    """,
    doc="Tokenizer fertility by (lang, source): BPE-ish subword tokens "
    "per whitespace token and chars per whitespace token — the "
    "standard multilingual tokenizer-cost audit (fertility >> 1 marks "
    "languages/sources the tokenizer fragments, i.e. more compute per "
    "word). Single aggregation pass, t01's token definitions reused "
    "verbatim on both engines.",
    tags=("llm-pipeline", "text", "tokenizer"),
)
def u39_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.operators.textstats import (
        bpe_ish_token_count,
        token_count,
    )

    d = T(spark, sf_dir, "documents")
    ws = F.sum(token_count("text").cast("bigint"))
    bpe = F.sum(bpe_ish_token_count("text").cast("bigint"))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(bpe / ws, 6).alias("fertility"),
        F.round(F.sum("n_chars") / ws, 6).alias("chars_per_token"),
    )


def _sample_k() -> int:
    return 8


def _sample_cap(sf_dir: str) -> int:
    """Per-cluster keep cap = ceil(n / 2k): the kept set targets half
    the corpus with a flattened cluster histogram. Footer row count —
    constructing the plan must not run a count job."""
    from gov_ec_pipeline_etl_spark.tables import table_rows

    n = table_rows(sf_dir, "embeddings")
    k = _sample_k()
    return max(1, -(-n // (2 * k)))


def _cluster_sample_oracle(sf_dir: str) -> str:
    from gov_ec_pipeline_etl_spark.plans.similarity_queries import (
        _lloyd_assign_ctes,
    )

    cap = _sample_cap(sf_dir)
    parts = [
        """vecs AS (
          SELECT vec_id, list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
          FROM embeddings
        )""",
        *_lloyd_assign_ctes(dim=64, k=_sample_k(), iters=3),
    ]
    ctes = ",\n        ".join(parts)
    hash_sql = portable_hash64_sql("CAST(vec_id AS VARCHAR)")
    return f"""
        WITH {ctes},
        sz AS (
          SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM a3 GROUP BY cent_id
        ),
        r AS (
          SELECT vec_id, cent_id,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY cent_id ORDER BY {hash_sql}, vec_id
                 ) AS INT) AS rnk
          FROM a3
        )
        SELECT r.vec_id AS id, r.cent_id, sz.cluster_size, r.rnk,
               CAST(CASE WHEN r.rnk <= {cap} THEN 1 ELSE 0 END AS INT)
                 AS kept
        FROM r JOIN sz USING (cent_id)
    """


@register(
    "u40_cluster_sample",
    oracle=_cluster_sample_oracle,
    doc="Cluster-balanced diversity sampling (the D4 shape, Tirumala "
    "et al. 2023: cluster the embedding space, then flatten the kept "
    "set's cluster histogram): u24's deterministic 3-iteration Lloyd "
    "assignment, then per-cluster rank by portable hash with a keep "
    "cap of ceil(n/2k) — big clusters downsample, small ones survive "
    "whole, no RNG state. The rank window partitions by cluster, so "
    "the sampling distributes with the clustering; the oracle replays "
    "the full unrolled Lloyd chain plus the same hash rank.",
    tags=("llm-pipeline", "similarity", "kmeans", "selection"),
)
def u40_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.operators.quality import (
        cluster_balanced_sample,
    )
    from gov_ec_pipeline_etl_spark.operators.similarity import kmeans_lloyd

    emb = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = kmeans_lloyd(emb, k=_sample_k(), iters=3).select(
        "vec_id", "cent_id"
    )
    return cluster_balanced_sample(assigned, cap=_sample_cap(sf_dir))


def _bpe_chain_parts(steps: int) -> list[str]:
    """CTE parts for the unrolled BPE replay: vocab w0, then per step a
    pair-count p{i}, an argmax b{i}, and a substituted vocab w{i} — the
    same left-to-right non-overlapping ``replace`` over the same
    parenthesis encoding the engine applies."""
    parts = [
        f"""w0 AS (
          SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS ws, COUNT(*) AS cnt
          FROM (SELECT unnest({TOKS_SQL}) AS w FROM documents)
          WHERE regexp_matches(w, '^[a-z0-9]+$')
          GROUP BY 1
        )"""
    ]
    for i in range(1, steps + 1):
        parts.append(f"""p{i} AS (
          SELECT syms[i] AS merge_left, syms[i + 1] AS merge_right,
                 SUM(cnt) AS pair_count
          FROM (SELECT cnt, regexp_extract_all(ws, '\\(([^()]+)\\)', 1)
                       AS syms
                FROM w{i - 1}),
               UNNEST(range(1, len(syms))) AS u(i)
          GROUP BY 1, 2
        )""")
        parts.append(f"""b{i} AS (
          SELECT * FROM p{i}
          ORDER BY pair_count DESC, merge_left, merge_right LIMIT 1
        )""")
        parts.append(f"""w{i} AS (
          SELECT replace(ws, '(' || b.merge_left || ')(' || b.merge_right
                             || ')',
                         '(' || b.merge_left || b.merge_right || ')') AS ws,
                 cnt
          FROM w{i - 1}, b{i} b
        )""")
    return parts


def _bpe_oracle(steps: int = 4) -> str:
    ctes = ",\n        ".join(_bpe_chain_parts(steps))
    selects = "\n        UNION ALL ".join(
        f"SELECT {i} AS step, merge_left, merge_right, pair_count FROM b{i}"
        for i in range(1, steps + 1)
    )
    return f"""
        WITH {ctes}
        {selects}
    """


def _bpe_fertility_oracle(steps: int = 4) -> str:
    """Replay the full merge chain, then apply the segmentation map back
    to the per-source token stream (the map join doubles as the
    [a-z0-9]+ vocabulary filter — the map holds exactly those types)."""
    ctes = ",\n        ".join(_bpe_chain_parts(steps))
    return f"""
        WITH {ctes},
        seg AS (
          SELECT replace(replace(ws, '(', ''), ')', '') AS w,
                 len(regexp_extract_all(ws, '\\(([^()]+)\\)', 1)) AS n_syms
          FROM w{steps}
        ),
        tokstream AS (
          SELECT source, unnest({TOKS_SQL}) AS w FROM documents
        )
        SELECT t.source,
               ROUND(SUM(s.n_syms)::DOUBLE / COUNT(*), 6) AS bpe_fertility,
               COUNT(*) AS n_toks
        FROM tokstream t JOIN seg s USING (w)
        GROUP BY t.source
    """


@register(
    "u41_bpe_merges",
    oracle=_bpe_oracle(),
    doc="Distributed BPE merge learning (Sennrich et al. 2016): ONE "
    "corpus scan folds the token stream into a (word_type, count) "
    "vocabulary — the classic reduction that makes merge learning "
    "corpus-size-independent — then 4 unrolled merge steps, each an "
    "adjacent-pair count over the cached vocab, a deterministic argmax "
    "(count DESC then lexicographic), and a boundary-safe left-to-right "
    "substitution applied via a broadcast 1-row join (the merge flows "
    "through the plan; nothing is collected). The (sym)-wrapping makes "
    "the builtin replace apply merges exactly as sequential BPE, "
    "including overlap runs. Oracle unrolls the identical chain in "
    "DuckDB CTEs.",
    bench=True,
    tags=("llm-pipeline", "tokenizer", "iterative"),
)
def u41_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.operators.bpe import bpe_merges

    return bpe_merges(T(spark, sf_dir, "documents"), steps=4)


_CORR_SIGNALS = [
    ("s1", "avg_wlen"),
    ("s2", "distinct_ratio"),
    ("s3", "n_tok"),
    ("s4", "stop_share"),
]
_CORR_PAIRS = [
    (i, j) for i in range(1, 5) for j in range(i + 1, 5)
]


def _corr_oracle() -> str:
    sums = ", ".join(
        [f"SUM(s{i}) AS t{i}, SUM(s{i} * s{i}) AS q{i}" for i in range(1, 5)]
        + [f"SUM(s{i} * s{j}) AS c{i}{j}" for i, j in _CORR_PAIRS]
    )
    names = dict((k, v) for k, v in [(1, "avg_wlen"), (2, "distinct_ratio"),
                                     (3, "n_tok"), (4, "stop_share")])
    selects = "\n        UNION ALL ".join(
        f"SELECT '{names[i]}' AS sig_a, '{names[j]}' AS sig_b, "
        f"ROUND((n * c{i}{j} - t{i} * t{j}) / "
        f"SQRT((n * q{i} - t{i} * t{i}) * (n * q{j} - t{j} * t{j})), 6) "
        f"AS pearson_r FROM s"
        for i, j in _CORR_PAIRS
    )
    return f"""
        WITH sig AS (
          SELECT
            (list_sum(list_transform(toks, t -> len(t)))::DOUBLE
              / len(toks)) AS s1,
            (len(list_distinct(toks))::DOUBLE / len(toks)) AS s2,
            len(toks)::DOUBLE AS s3,
            (len(list_filter(toks, t -> t IN ('a', 'the')))::DOUBLE
              / len(toks)) AS s4
          FROM (SELECT {TOKS_SQL} AS toks FROM documents)
          WHERE len(toks) > 0
        ),
        s AS (SELECT COUNT(*)::DOUBLE AS n, {sums} FROM sig)
        {selects}
    """


@register(
    "u42_signal_corr",
    oracle=_corr_oracle(),
    doc="Quality-signal correlation matrix (the signal-redundancy audit "
    "an ablation pass runs before combining filter signals): per-doc "
    "avg word length, distinct-token ratio, token count, and stopword "
    "share — each an exact-integer ratio so the per-doc doubles are "
    "bit-identical cross-engine — then ONE aggregation pass produces "
    "every moment (sums, squares, cross products) and the 6 pairwise "
    "Pearson coefficients explode from the single moment row: one "
    "corpus scan, one exchange, catalog-scale output regardless of "
    "corpus size.",
    tags=("llm-pipeline", "quality", "profiling"),
)
def u42_signal_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    toks = F.split(norm, " ")
    sig = docs.select(
        F.size(toks).alias("nt"),
        F.size(F.array_distinct(toks)).alias("nd"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)
        ).alias("chars"),
        F.size(F.filter(toks, lambda t: t.isin("a", "the"))).alias("stops"),
    ).where(F.col("nt") > 0).select(
        (F.col("chars") / F.col("nt")).alias("s1"),
        (F.col("nd") / F.col("nt")).alias("s2"),
        F.col("nt").cast("double").alias("s3"),
        (F.col("stops") / F.col("nt")).alias("s4"),
    )
    aggs = [F.count("*").cast("double").alias("n")]
    for i in range(1, 5):
        aggs.append(F.sum(f"s{i}").alias(f"t{i}"))
        aggs.append(F.sum(F.col(f"s{i}") * F.col(f"s{i}")).alias(f"q{i}"))
    for i, j in _CORR_PAIRS:
        aggs.append(F.sum(F.col(f"s{i}") * F.col(f"s{j}")).alias(f"c{i}{j}"))
    moments = sig.agg(*aggs)
    names = dict(
        (int(k[1]), v) for k, v in _CORR_SIGNALS
    )
    n = F.col("n")

    def _r(i: int, j: int):
        num = n * F.col(f"c{i}{j}") - F.col(f"t{i}") * F.col(f"t{j}")
        den = F.sqrt(
            (n * F.col(f"q{i}") - F.col(f"t{i}") * F.col(f"t{i}"))
            * (n * F.col(f"q{j}") - F.col(f"t{j}") * F.col(f"t{j}"))
        )
        return F.round(num / den, 6)

    rows = F.array(
        *[
            F.struct(
                F.lit(names[i]).alias("sig_a"),
                F.lit(names[j]).alias("sig_b"),
                _r(i, j).alias("pearson_r"),
            )
            for i, j in _CORR_PAIRS
        ]
    )
    return moments.select(F.explode(rows).alias("z")).select("z.*")


@register(
    "u43_bpe_fertility",
    oracle=_bpe_fertility_oracle(),
    doc="BPE segmentation applied at corpus scale: learn u41's 4 merges "
    "from the corpus itself, apply ALL of them to the vocabulary, and "
    "join the vocab-bounded (word, n_syms) segmentation map back to "
    "the per-source token stream to measure post-merge fertility "
    "(symbols per token) by source — the train+apply shape of a "
    "tokenizer pipeline, mirroring how u39 measures a fixed external "
    "segmenter. The map join doubles as the [a-z0-9]+ vocabulary "
    "filter. Oracle replays the full unrolled merge chain plus the "
    "same map join.",
    tags=("llm-pipeline", "tokenizer", "iterative"),
)
def u43_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.operators.bpe import bpe_segmented_vocab

    docs = T(spark, sf_dir, "documents")
    seg = bpe_segmented_vocab(docs, steps=4)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    stream = docs.select(
        "source", F.explode(F.split(norm, " ")).alias("w")
    )
    return (
        stream.join(seg, "w")
        .groupBy("source")
        .agg(
            F.round(F.sum("n_syms") / F.count("*"), 6).alias("bpe_fertility"),
            F.count("*").alias("n_toks"),
        )
    )


from gov_ec_pipeline_etl_spark.plans.text_queries import QUALITY_SQL as _Q_SQL

# RefinedWeb-style per-source quota: a source (domain) may contribute at
# most K documents, chosen by quality. K is fixed across scales so the
# oracle replays it verbatim.
_U65_K = 200

_U65_ORACLE = f"""
    WITH q AS ({_Q_SQL}),
    scored AS (
      SELECT d.source, d.doc_id, d.n_chars, q.quality
      FROM documents d JOIN q USING (doc_id)
    ),
    ranked AS (
      SELECT source, doc_id, n_chars, quality,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
             ) AS rn
      FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn <= {_U65_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           MIN(CASE WHEN rn <= {_U65_K} THEN quality END) AS cutoff_quality,
           CAST(SUM(CASE WHEN rn <= {_U65_K} THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM ranked GROUP BY source
"""


@register(
    "u65_source_quota_cap",
    oracle=_U65_ORACLE,
    bench=True,
    doc="Per-source document quota (RefinedWeb-style domain cap): each "
    "source keeps at most K=200 documents ranked by t02's quality score "
    "(total order: quality DESC, doc_id — the repo tie rule), reported "
    "as per-source kept/total counts, the quality cutoff, and kept "
    "chars. The rank<=K filter compiles to WindowGroupLimit, so every "
    "map task pre-truncates its partition to K rows per source before "
    "the exchange — the shuffle carries O(K * sources * tasks), not the "
    "corpus, which is what makes a per-domain cap viable at 100 TB. "
    "Totals come from a separate one-shuffle aggregate joined broadcast "
    "(source-cardinality rows).",
    tags=("llm-pipeline", "curation", "quota", "scale-guard"),
)
def u65_source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from gov_ec_pipeline_etl_spark.operators.textstats import quality_score

    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.round(quality_score("text"), 6).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    kept = (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _U65_K)
    )
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("quality").alias("cutoff_quality"),
        F.sum("n_chars").alias("kept_chars"),
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return totals.join(F.broadcast(kept_agg), "source").select(
        "source", "n_docs", "n_kept", "cutoff_quality", "kept_chars"
    )
