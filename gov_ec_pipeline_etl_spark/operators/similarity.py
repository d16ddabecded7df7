"""Embedding similarity search.

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries broadcast against the corpus (one scan, no shuffle of the
  corpus side); per-pair cosine is an UNROLLED arithmetic expression
  (whole-stage codegen — array HOFs are interpreted per element, see
  PERF.md item 2) with norms precomputed per side. Linear in
  |corpus|×|queries|: right when the query set is small or recall must
  be exact.
- ``lsh_cosine_topk``: random-hyperplane LSH — the 100 TB path. Each
  vector maps to a small bucket key (sign bits against P fixed
  hyperplanes); candidates share a bucket (multi-probe within Hamming
  radius optional), then exact rerank. Corpus side is bucketed once
  (reusable across query batches).
- ``cosine_near_pairs``: all-pairs near-duplicate detection above a
  cosine threshold, LSH-bucketed to avoid the quadratic cross join.

Hyperplanes are deterministic (seeded numpy, embedded as literals) so
results are reproducible across runs and engines.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from gov_ec_pipeline_etl_spark.caching import released, stage
from gov_ec_pipeline_etl_spark.sinks import snapshot


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def vec_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality, read from one row (tiny driver job).

    Empty input (a filtered-to-empty view is routine at scale) returns
    1: every kernel built from the dim then evaluates over zero rows,
    so the value is immaterial — queries yield their correct empty
    result instead of crashing on the missing first row.

    Null vectors are filtered BEFORE sampling: a leading null row must
    not shadow real vectors behind it (the sentinel would silently
    truncate every kernel to element [0] and produce wrong cosines)."""
    row = df.where(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
    if row is None:
        return 1
    return int(row[0])


def _dot_sql(a: str, b: str, dim: int) -> str:
    return " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(dim))


def dot(a: str, b: str, dim: int) -> Column:
    """Dot product as a flat UNROLLED arithmetic expression.

    Catalyst evaluates array higher-order functions (zip_with/aggregate)
    interpreted, one element at a time — the measured ~15× anti-pattern
    of PERF.md item 2. Unrolling over the (known, small) dimensionality
    yields a single whole-stage-codegen expression with the SAME
    left-to-right addition order as both the old HOF kernel and DuckDB's
    sequential list_dot_product, so results stay bit-identical while the
    evaluation moves into generated JVM code. Built as ONE SQL string:
    composing ~200 Column objects through py4j costs ~2 s of driver time
    per run, while parsing the equivalent string is milliseconds.

    ``a``/``b`` are SQL expression strings (column names, possibly
    alias-qualified like ``a.v``), not Column objects."""
    return F.expr(_dot_sql(a, b, dim))


def l2_norm(a: str, dim: int) -> Column:
    return F.sqrt(F.expr(_dot_sql(a, a, dim)))


def cosine(a: str, b: str, dim: int) -> Column:
    """Per-pair cosine. Prefer precomputing ``l2_norm`` per SIDE before
    a join (norms are per-vector, not per-pair) — the join body then
    evaluates one dot product instead of three."""
    return dot(a, b, dim) / (l2_norm(a, dim) * l2_norm(b, dim))


def _dlit(x: float) -> str:
    """SQL DOUBLE literal: plain decimals parse as DECIMAL in Spark SQL
    (suffix D forces double); scientific notation is already double."""
    r = repr(float(x))
    return r if "e" in r or "E" in r else r + "D"


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query (self-matches excluded).
    Output: query_id, neighbor_id, rnk — ties broken by neighbor id."""
    dim = vec_dim(corpus, vec_col)
    # norms are per-vector: compute them on each SIDE of the join so the
    # per-pair body is one unrolled dot product, not dot + two norms
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", l2_norm("qv", dim))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", l2_norm("cv", dim))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot("qv", "cv", dim) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def bucket_key_udf(planes: list[list[float]]):
    """Sign-bit bucket id against fixed hyperplanes, as ONE Arrow-batched
    kernel with STRICT left-to-right accumulation over dimensions.

    Replaces the unrolled literal-SQL chain (``v[0]*c0 + v[1]*c1 + …``
    per plane): at 8 planes × 64 dims that chain was ~512 multiply-add
    terms whose whole-stage-codegen method exceeded Janino's 64 KB limit
    — ``ERROR CodeGenerator: Failed to compile`` and the ENTIRE join
    stage fell back to interpreted evaluation (round-6 verdict, s03/u19
    the only two queries still on the literal kernel).

    Oracle parity is the invariant that kept the literal kernel alive:
    the DuckDB CTE replays the same left-associated chain, and a BLAS
    matmul (``v @ mat``, numpy pairwise summation) could flip a sign bit
    on a near-zero projection. So this kernel does NOT matmul — it folds
    dimension-by-dimension (``acc = acc + v[:, j] * mat[j, :]``), each
    step an IEEE correctly-rounded elementwise multiply-then-add with no
    FMA, which is bit-identical per (row, plane) to both the old unrolled
    Spark chain and the oracle's SQL replay. O(rows · dim · planes)
    arithmetic, constant-size plan, and the stage around it codegens
    again. (Candidate-generation-only paths without an exact-replay
    oracle use ``band_keys_udf``'s true matmul instead.)"""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mat = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = 1 << np.arange(len(planes), dtype=np.int64)
    dim = mat.shape[0]

    def _key(vcol):
        if not len(vcol):
            return pd.Series([], dtype="int64")
        v = np.vstack(vcol.to_numpy())  # (n, dim)
        acc = v[:, 0:1] * mat[0:1, :]  # (n, planes)
        for j in range(1, dim):
            acc = acc + v[:, j : j + 1] * mat[j : j + 1, :]
        return pd.Series((acc >= 0.0).astype(np.int64) @ weights)

    # real annotation objects: `from __future__ import annotations` turns
    # inline hints into strings pandas_udf cannot resolve here
    _key.__annotations__ = {"vcol": pd.Series, "return": pd.Series}
    return pandas_udf(_key, "bigint")


def band_keys_udf(planes_per_band: list[list[list[float]]]):
    """All band keys in ONE Arrow-batched matrix multiply.

    The literal-SQL band kernel (one unrolled sign-bit chain per band,
    removed in round 7) was dim ×
    planes × bands expression terms — ~3000 at 64 dims × 12 planes × 4
    bands — and Catalyst re-analyzes that tree on every call: a ~10 s
    driver-side constant PER QUERY at sf1 (round-4 PERF audit), pure
    plan tax that grows with dims × planes. Here the planes become one
    (dim, bands·planes) numpy matrix closed over by a pandas UDF: per
    batch it is a single BLAS matmul + sign test + per-band bit-pack —
    O(rows · dim · planes) arithmetic with a constant-size plan.

    Sign parity with the literal kernel is not required for
    correctness: band keys only GENERATE candidates (exact cosine
    rerank follows), and parallel vectors — the pairs the ≥0.999
    threshold admits — get identical projections under any summation
    order, so banded results stay equal to the single-table form
    (regression-tested). Returns array<bigint>, one key per band;
    consume with posexplode for (band, key) rows."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bands = len(planes_per_band)
    per_band = len(planes_per_band[0])
    mat = np.array(
        [p for band in planes_per_band for p in band], dtype=np.float64
    ).T  # (dim, bands*per_band)
    weights = (1 << np.arange(per_band, dtype=np.int64))

    def _keys(vcol):
        if not len(vcol):
            return pd.Series([], dtype=object)
        v = np.vstack(vcol.to_numpy())  # (n, dim)
        signs = (v @ mat) >= 0.0  # (n, bands*per_band)
        keys = np.stack(
            [
                signs[:, b * per_band : (b + 1) * per_band].astype(np.int64)
                @ weights
                for b in range(bands)
            ],
            axis=1,
        )  # (n, bands)
        return pd.Series(list(keys))

    # real annotation objects: `from __future__ import annotations` turns
    # inline hints into strings pandas_udf cannot resolve here
    _keys.__annotations__ = {"vcol": pd.Series, "return": pd.Series}
    return pandas_udf(_keys, "array<bigint>")


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    multi_probe: int = 0,
) -> DataFrame:
    """ANN top-k: bucket join on hyperplane sign keys, exact rerank
    within bucket. ``multi_probe=p`` also probes every bucket within
    Hamming distance 1 of the query's key for the first p planes —
    recall rises toward exact at the cost of (1+p)× candidate volume
    (the standard LSH recall/cost dial; the corpus stays bucketed
    once either way)."""
    dim = vec_dim(corpus, vec_col)
    planes = hyperplanes(dim, n_planes, seed)
    keyer = bucket_key_udf(planes)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
        )
        .withColumn("qn", l2_norm("qv", dim))
        .withColumn("bucket", keyer(F.col("qv")))
    )
    if multi_probe > 0:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(min(multi_probe, n_planes))
            ],
        )
        q = q.withColumn("bucket", F.explode(probes))
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
        )
        .withColumn("cn", l2_norm("cv", dim))
        .withColumn("bucket", keyer(F.col("cv")))
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot("qv", "cv", dim) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    if multi_probe > 0:
        # a neighbor can surface via several probed buckets — dedupe
        # before ranking or it would occupy multiple top-k slots
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )


def topk_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of an approximate top-k result against the exact
    one — the in-engine quality gate for any ANN path (LSH, IVF, …)
    before trusting it on a full-corpus run. Both inputs carry
    (query_id, neighbor_id, …); extra columns are ignored.

    Output: query_id, n_exact, n_ann, n_hit, recall_at_k — all counts
    bigint, recall rounded to 3. Tiny aggregates (k rows per query);
    the expensive parts are the input plans themselves."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id", F.lit(1).alias("m"))
    hit = (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("n_hit"),
        )
    )
    acnt = a.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ann"))
    return hit.join(acnt, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_ann", F.lit(0)).cast("long").alias("n_ann"),
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_exact"), 3).alias("recall_at_k"),
    )


def cosine_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.999,
    n_planes: int = 8,
    seed: int = 42,
    bucketed: bool = True,
    bands: int = 1,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold, id_a < id_b).
    ``bucketed=False`` runs the exact quadratic variant (oracle mode).

    ``bands > 1`` selects BANDED hyperplane LSH — the corpus-scale
    form: ``bands`` independent plane sets, candidate = same bucket in
    ANY band (MinHash-band OR-construction). This decouples the two
    knobs a single table conflates: more planes per band shrinks bucket
    occupancy (in-bucket pair work is quadratic in occupancy — the sf1
    bench measured a 5.1× cost factor for 4× corpus at fixed 8-plane/256
    buckets), while more bands restores recall (P[split by one plane] ≈
    θ/π per plane; at cos 0.999, 12 planes keep a true pair together
    with p ≈ 0.84 per band, and 4 bands lift recall to 1−(1−p)⁴ ≈
    0.9994). Parallel (planted/scaled) duplicates share signs under
    every plane set, so banding never changes their result set.

    The bucketed variants stage (``caching.stage``) the projection both
    self-join sides read; the consumer releases it after its action
    with ``caching.unpersist_inputs`` or ``caching.released``."""
    dim = vec_dim(df, vec_col)
    v = df.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("n", l2_norm("v", dim))
    if bucketed and bands > 1:
        v = stage(v)
        planes_per_band = [
            hyperplanes(dim, n_planes, seed + 101 * b) for b in range(bands)
        ]
        # All band keys in one Arrow matmul UDF (constant-size plan) —
        # the literal-SQL band kernel was ~3000 expression terms whose
        # Catalyst analysis alone cost ~10 s per query at sf1.
        keyed = v.select(
            "id",
            F.posexplode(band_keys_udf(planes_per_band)(F.col("v"))).alias(
                "band", "key"
            ),
        )
        # stage the (id, band, key) rows (4 tiny rows per vector) so
        # the self-join's two sides read a cached leaf instead of two
        # more Arrow round-trips
        keyed = stage(keyed)
        cand = (
            keyed.alias("x")
            .join(keyed.alias("y"), ["band", "key"])
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        fetched = cand.join(
            v.select(
                F.col("id").alias("id_a"), F.col("v").alias("va"),
                F.col("n").alias("na"),
            ),
            "id_a",
        ).join(
            v.select(
                F.col("id").alias("id_b"), F.col("v").alias("vb"),
                F.col("n").alias("nb"),
            ),
            "id_b",
        )
        return (
            fetched.select(
                "id_a", "id_b",
                (dot("va", "vb", dim) / (F.col("na") * F.col("nb"))).alias("cos"),
            )
            .where(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 3).alias("cos_r"))
        )
    if bucketed:
        planes = hyperplanes(dim, n_planes, seed)
        # Stage the (id, v, norm, bucket) projection: both sides of the
        # self-join read the cache instead of re-scanning the source and
        # re-evaluating the norm/bucket kernels (25% at sf0.1; at corpus
        # scale it halves the scan volume — the cluster form writes this
        # projection out, as minhash_sketch documents).
        # Bucket keys via the same Arrow matmul as the banded path
        # (constant-size plan; the literal kernel stays only where an
        # oracle replays its bit math, i.e. s03's lsh_cosine_topk).
        v = stage(
            v.withColumn("bucket", band_keys_udf([planes])(F.col("v")).getItem(0))
        )
        joined = v.alias("a").join(
            v.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
    else:
        joined = v.alias("a").join(v.alias("b"), F.col("a.id") < F.col("b.id"))
    return (
        joined.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (dot("a.v", "b.v", dim) / (F.col("a.n") * F.col("b.n"))).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 3).alias("cos_r"))
    )


def build_ivf_index(
    vecs: DataFrame, cents: DataFrame, dim: int, path: str
) -> None:
    """Publish an IVF index as the stored table ``path``, PARTITIONED BY
    centroid id.

    ``vecs``: (vec_id, v array<double>); ``cents``: (cent_id, cv).
    Each vector is assigned to its nearest centroid (cosine argmax,
    low-id tie-break — the same deterministic rule u06 oracles), and the
    assignment table is written partitioned by ``cent_id``: the
    partition layout IS the inverted file. A search probing nprobe
    centroids touches nprobe partition directories and nothing else —
    partition pruning does the inverted-list seek, no row-level index
    structure needed. Build is one broadcast join + argmax, O(N·K)."""
    assigned = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "cent_id", cosine("v", "cv", dim).alias("cos"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cent_id", F.struct(F.col("cos"), -F.col("cent_id"))
            ).alias("cent_id"),
            F.first("v").alias("v"),
        )
    )
    snapshot.write(assigned, path, partition_by=["cent_id"])


def build_ivf(
    emb: DataFrame,
    path: str,
    k_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """IVF index lifecycle root (CLI-operable, same contract as the
    n-gram and MinHash indexes): seed ``k_centroids`` centroids from
    the lowest vector ids (the deterministic rule s04/u06 oracle; a
    k-means refinement loop is s05 run to fixpoint), store them under
    ``path/cents`` and the assignments partitioned BY centroid id under
    ``path/data`` — the partition layout IS the inverted file."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import _write_index_meta

    dim = vec_dim(emb, vec_col)
    vecs = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
    )
    cents = (
        vecs.orderBy("vec_id")
        .limit(k_centroids)
        .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
    )
    cents.coalesce(1).write.mode("overwrite").parquet(path + "/cents")
    build_ivf_index(vecs, cents, dim, path + "/data")
    _write_index_meta(
        path, {"kind": "ivf", "dim": dim, "k_centroids": k_centroids}
    )


def read_ivf_cents(spark, path: str) -> DataFrame:
    return spark.read.parquet(path + "/cents")


def append_to_ivf(emb: DataFrame, spark, path: str,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> int:
    """Ingest new vectors into a stored IVF index: assign each to its
    nearest STORED centroid (frozen between rebuilds — the standard
    IVF trade; re-clustering is a rebuild) and publish the current
    snapshot plus the batch's centroid-partitioned files. Linear in the
    batch."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import read_index_meta

    dim = read_index_meta(path)["dim"]
    vecs = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
    )
    cents = read_ivf_cents(spark, path)
    assigned = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "cent_id", cosine("v", "cv", dim).alias("cos"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cent_id", F.struct(F.col("cos"), -F.col("cent_id"))).alias(
                "cent_id"
            ),
            F.first("v").alias("v"),
        )
    )
    with released(stage(assigned)) as assigned:
        n = assigned.count()
        snapshot.write(assigned, path + "/data", partition_by=["cent_id"], append=True)
    return n


def ivf_topk(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k search against a stored IVF index built by ``build_ivf``
    (reads dim/centroids from the index itself)."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import read_index_meta

    dim = read_index_meta(path)["dim"]
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    return ivf_search_against(
        spark, path + "/data", q, read_ivf_cents(spark, path), dim,
        nprobe=nprobe, k=k,
    )


def ivf_search_against(
    spark,
    index_path: str,
    queries: DataFrame,
    cents: DataFrame,
    dim: int,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """Top-k cosine search against a STORED IVF index (build_ivf_index).

    Per query: rank centroids (broadcast, tiny), keep the nprobe
    nearest, then join the probe set against the index ON THE PARTITION
    COLUMN — with the probe side broadcast, dynamic partition pruning
    reduces the index scan to the probed partitions. Rerank is exact
    cosine within those blocks: per-query work is
    O(corpus/K · nprobe), never O(corpus)."""
    index = snapshot.read(spark, index_path)
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cent_id")
    )
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "cent_id", cosine("qv", "cv", dim).alias("cos"))
        .withColumn("pr", F.row_number().over(w_probe))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "qv", "cent_id")
    )
    cand = index.join(F.broadcast(probes), "cent_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("vec_id")
    )
    return (
        cand.withColumn("cos_q", cosine("v", "qv", dim))
        .withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= k)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), F.col("rnk")
        )
    )


def sq_l2_sql(a: str, b: str, dim: int) -> str:
    """Squared L2 distance as ``a·a + b·b - 2·(a·b)`` with each dot an
    unrolled left-to-right sum — the same expression SHAPE the DuckDB
    oracle writes with list_dot_product, so results are bit-identical
    across engines (norm-expansion instead of Σ(aᵢ-bᵢ)² keeps the
    per-side norms factorable out of a join body)."""
    return (
        f"({_dot_sql(a, a, dim)}) + ({_dot_sql(b, b, dim)})"
        f" - 2*({_dot_sql(a, b, dim)})"
    )


def pq_assignments(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 4,
) -> DataFrame:
    """Product quantization: encode each vector as ``m`` sub-space code
    ids (reference has no vector search at all; this is the
    memory-side scale lever that pairs with IVF — IVF prunes WHICH
    vectors to score, PQ shrinks WHAT is stored per vector, dim·4 bytes
    → m bytes at m=8).

    The dim is split into ``m`` contiguous sub-spaces of dim/m
    components. Codebooks are seeded deterministically from the first
    ``k_codes`` vectors' sub-slices (the same low-id seeding rule the
    IVF build oracles — a k-means refinement of the codebooks is s05's
    loop per sub-space). Each (vector, sub-space) slice is assigned to
    its nearest codeword by squared L2 (low code id breaks ties), and
    the residual squared error is the per-sub-space reconstruction
    loss.

    Output: (vec_id, sub, code, sqerr) — one row per vector per
    sub-space. Plan: one posexplode (×m rows, arrays of dim/m), one
    broadcast join against the m·k codebook rows, one min_by groupBy —
    shuffle only on (vec_id, sub), fully whole-stage-codegen distance
    arithmetic, linear in the corpus at any scale."""
    dim = vec_dim(emb, vec_col)
    d = dim // m
    vecs = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
    )
    subs = F.array(*[F.slice("v", s * d + 1, d) for s in range(m)])
    sliced = vecs.select("vec_id", F.posexplode(subs).alias("sub", "x"))
    codebook = (
        vecs.where(F.col("vec_id") < k_codes)
        .select(F.col("vec_id").alias("code"), F.posexplode(subs).alias("sub", "c"))
    )
    scored = sliced.join(F.broadcast(codebook), "sub").select(
        "vec_id",
        "sub",
        "code",
        F.expr(sq_l2_sql("x", "c", d)).alias("dist"),
    )
    return scored.groupBy("vec_id", "sub").agg(
        F.min_by("code", F.struct(F.col("dist"), F.col("code"))).alias("code"),
        F.min("dist").alias("sqerr"),
    )


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means run for ``iters`` full iterations, centroids seeded
    from the ``k`` lowest ids (deterministic — the rule the IVF build
    oracles). Each iteration: broadcast the k·dim centroid table, argmin
    by squared L2 (low centroid id breaks ties), recompute centroids as
    per-dimension means. Vectors never leave the executors; only the
    k-row centroid table is localCheckpoint-ed between iterations to
    truncate lineage (without it the next round's distance kernel
    inlines dim avg-expressions per component — measured 60 s of pure
    Catalyst analysis by iteration 3 at dim 64). Returns the final
    (id, cent_id) assignment."""
    dim = vec_dim(emb, vec_col)
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    cents = vecs.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    assigned = None
    for it in range(iters):
        scored = vecs.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "v",
            "cent_id",
            F.expr(sq_l2_sql("v", "cv", dim)).alias("dist"),
        )
        assigned = scored.groupBy("vec_id").agg(
            F.min_by("cent_id", F.struct(F.col("dist"), F.col("cent_id"))).alias(
                "cent_id"
            ),
            F.first("v").alias("v"),
        )
        if it < iters - 1:
            cents = (
                assigned.groupBy("cent_id")
                .agg(*[F.avg(F.col("v")[i]).alias(f"m{i}") for i in range(dim)])
                .select(
                    "cent_id",
                    F.array(*[f"m{i}" for i in range(dim)]).alias("cv"),
                )
                .localCheckpoint(eager=True)
            )
    return assigned.select("vec_id", "cent_id")


def unit_vectors(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, u): vectors projected to the unit sphere (zero vectors
    dropped). Norm is the same unrolled sequential dot kernel the
    oracles replay with ``list_dot_product``; sqrt and the element-wise
    divide are IEEE-correctly-rounded in both engines, so the unit
    vectors are bit-identical cross-engine."""
    dim = vec_dim(emb, vec_col)
    return (
        emb.select(
            F.col(id_col).cast("long").alias("vec_id"),
            as_double(F.col(vec_col)).alias("v"),
        )
        .withColumn("nsq", F.expr(_dot_sql("v", "v", dim)))
        .where(F.col("nsq") > 0)
        .select(
            "vec_id",
            F.transform("v", lambda x: x / F.sqrt(F.col("nsq"))).alias("u"),
        )
    )


def semantic_neardup_pairs(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023):
    normalize to the unit sphere, cluster with deterministic Lloyd
    k-means (low-id seeding — squared L2 on unit vectors is monotone in
    cosine, so this IS spherical k-means), then emit pairs with cosine
    (= dot on unit vectors) >= threshold only WITHIN clusters.

    This is the scale architecture of the paper: candidate generation
    is bounded by Σ cluster_size² instead of the quadratic corpus — at
    100 TB, k grows with the corpus (k ≈ n / target_cluster_size) so
    per-cluster work stays constant, and the within-cluster join keys
    on cent_id, an int shuffle. Complements s02's LSH near-dup: LSH
    buckets by random projections (recall bound per pair), SemDeDup by
    learned density (recall depends on cluster assignment — a pair
    straddling a Voronoi boundary is missed; the paper accepts this as
    the price of the bound, and so does this operator).

    Output: (cent_id, id_a, id_b, cos_r) with cos rounded to 6.

    Both corpus-sized intermediates are staged (``caching.stage``): the
    unit vectors are referenced by every k-means iteration AND both
    sides of the pair join, and the final assignment's lineage contains
    the whole Lloyd chain — uncached, the self-join re-runs k-means once
    per branch (measured 125 s → ~8 s at sf0.1). At 100 TB these are
    the SemDeDup working set (normalized corpus + assignment), the
    standard materialization of the paper's pipeline."""
    dim = vec_dim(emb, vec_col)
    unit = stage(unit_vectors(emb, id_col, vec_col))
    assigned = kmeans_lloyd(
        unit, k=k, iters=iters, id_col="vec_id", vec_col="u"
    )
    a = stage(assigned.join(unit, "vec_id"))
    # Flatten the unit vector to scalar columns BEFORE the pair join:
    # the per-pair dot then runs on flat doubles instead of 2*dim
    # GetArrayItem calls per candidate (bounds/null checks per element
    # defeat codegen's tight loop — measured r10: 3.7 -> 0.64 s on the
    # 1 M-pair stage at sf0.1, identical result set). Same bytes cross
    # the cent_id exchange either way (dim doubles per row); the
    # arithmetic is the SAME left-associated multiply-add chain, so
    # results stay bit-identical to the array form and to the oracle's
    # sequential list_dot_product.
    x = a.select(
        "cent_id",
        F.col("vec_id").alias("id_a"),
        *[F.col("u")[i].alias(f"__ua{i}") for i in range(dim)],
    )
    y = a.select(
        "cent_id",
        F.col("vec_id").alias("id_b"),
        *[F.col("u")[i].alias(f"__ub{i}") for i in range(dim)],
    )
    dot_flat = " + ".join(f"__ua{i}*__ub{i}" for i in range(dim))
    return (
        x.join(y, "cent_id")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.expr(dot_flat))
        .where(F.col("cos") >= threshold)
        .select("cent_id", "id_a", "id_b", F.round("cos", 6).alias("cos_r"))
    )


def _pq_subs(col: str, d: int, m: int):
    """Array of the m contiguous dim/m sub-slices of a vector column."""
    return F.array(*[F.slice(col, s * d + 1, d) for s in range(m)])


def _pq_encode_rows(assigned: DataFrame, codebook: DataFrame, d: int, m: int) -> DataFrame:
    """(vec_id, cent_id, sub, code): nearest codeword per sub-space by
    squared L2, low code id breaking ties. ``assigned``: (vec_id,
    cent_id, v); ``codebook``: (code, sub, c) — m·k rows, broadcast."""
    return (
        assigned.select(
            "vec_id", "cent_id", F.posexplode(_pq_subs("v", d, m)).alias("sub", "x")
        )
        .join(F.broadcast(codebook), "sub")
        .select(
            "vec_id", "cent_id", "sub", "code",
            F.expr(sq_l2_sql("x", "c", d)).alias("dist"),
        )
        .groupBy("vec_id", "cent_id", "sub")
        .agg(F.min_by("code", F.struct(F.col("dist"), F.col("code"))).alias("code"))
    )


def _pq_query_lut(q: DataFrame, codebook: DataFrame, d: int, m: int) -> DataFrame:
    """ADC lookup table: distance from each query sub-slice to each
    codeword — n_queries · m · k_codes rows, broadcast at use."""
    return (
        q.select("query_id", F.posexplode(_pq_subs("qv", d, m)).alias("sub", "qx"))
        .join(F.broadcast(codebook.withColumnRenamed("c", "cb")), "sub")
        .select(
            "query_id", "sub", "code",
            F.expr(sq_l2_sql("qx", "cb", d)).alias("dq"),
        )
    )


def _adc_topk(code_rows: DataFrame, probes: DataFrame, lut: DataFrame, k: int) -> DataFrame:
    """Rank probed candidates by ADC distance from their code rows.

    ADC = Σ_sub dq summed in CANONICAL sub order: F.sum over the m rows
    adds in partition-arrival order, so two candidates sharing the same
    code tuple (identical addend SETS) could get adc values differing
    in ulps and flip the (adc, neighbor_id) rank across runs/engines.
    Sorting by sub then folding left-to-right makes the double
    bit-identical here and in the oracle's
    list_sum(list(dq ORDER BY sub)); m elements, so the interpreted HOF
    fold costs nothing."""
    cand = code_rows.join(
        F.broadcast(probes.select("query_id", "cent_id")), "cent_id"
    ).where(F.col("vec_id") != F.col("query_id"))
    scored = (
        cand.join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("sub"), F.col("dq")))
                    ),
                    lambda x: x.dq,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("adc")
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )


def _ivf_assign(vecs: DataFrame, cents: DataFrame, dim: int) -> DataFrame:
    """(vec_id, cent_id, v): nearest centroid by cosine, low-id
    tie-break — the deterministic rule every IVF oracle replays."""
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "cent_id", cosine("v", "cv", dim).alias("cos"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cent_id", F.struct(F.col("cos"), -F.col("cent_id"))).alias(
                "cent_id"
            ),
            F.first("v").alias("v"),
        )
    )


def _ivf_probes(q: DataFrame, cents: DataFrame, dim: int, nprobe: int) -> DataFrame:
    """(query_id, qv, cent_id): each query's nprobe nearest centroids."""
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cent_id")
    )
    return (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "cent_id", cosine("qv", "cv", dim).alias("cos"))
        .withColumn("pr", F.row_number().over(w_probe))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "qv", "cent_id")
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_centroids: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k_codes: int = 4,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ search — the composed 100 TB ANN architecture: IVF prunes
    WHICH vectors a query scores (nprobe of k_centroids inverted
    lists), PQ's asymmetric distance computation (ADC) ranks those
    candidates from their m-byte codes without touching the raw
    vectors. Raw vectors are read exactly twice at build time (assign +
    encode) and never at query time; per-query cost is
    O(corpus/k_centroids · nprobe) code-table rows plus an
    m·k_codes-entry distance lookup table per query (tiny, broadcast).

    All three stages are deterministic arithmetic (low-id centroid and
    codebook seeding, cosine probe ranking, norm-expanded squared-L2
    ADC with low-id tie-breaks), so unlike hyperplane-LSH ANN the whole
    approximate search is exactly replayable by the SQL oracle.

    Output: (query_id, neighbor_id, rnk) by ascending ADC distance.
    ``build_ivfpq``/``ivfpq_topk_stored`` are the deployed form: same
    arithmetic from a centroid-partitioned code table on disk."""
    dim = vec_dim(emb, vec_col)
    d = dim // m
    vecs = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
    )
    cents = vecs.where(F.col("vec_id") < k_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    assigned = _ivf_assign(vecs, cents, dim)
    codebook = vecs.where(F.col("vec_id") < k_codes).select(
        F.col("vec_id").alias("code"),
        F.posexplode(_pq_subs("v", d, m)).alias("sub", "c"),
    )
    codes = _pq_encode_rows(assigned, codebook, d, m)
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    probes = _ivf_probes(q, cents, dim, nprobe)
    lut = _pq_query_lut(q, codebook, d, m)
    return _adc_topk(codes, probes, lut, k)


def build_ivfpq(
    emb: DataFrame,
    path: str,
    k_centroids: int = 8,
    m: int = 8,
    k_codes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF-PQ index: ``path/cents`` (k·dim doubles),
    ``path/codebook`` (m·k_codes codewords), and ``path/data`` — ONE
    row per vector, ``(vec_id, codes array<int>)``, partitioned BY
    centroid id. The raw vectors are NOT stored: the index holds m
    small ints per vector (the PQ memory story), and searches
    partition-prune to the probed centroid directories (the IVF seek
    story). Same deterministic seeding as the in-memory ``ivfpq_topk``
    so stored and inline searches are bit-identical."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import _write_index_meta

    dim = vec_dim(emb, vec_col)
    d = dim // m
    vecs = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
    )
    cents = vecs.where(F.col("vec_id") < k_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    cents.coalesce(1).write.mode("overwrite").parquet(path + "/cents")
    codebook = vecs.where(F.col("vec_id") < k_codes).select(
        F.col("vec_id").alias("code"),
        F.posexplode(_pq_subs("v", d, m)).alias("sub", "c"),
    )
    codebook.coalesce(1).write.mode("overwrite").parquet(path + "/codebook")
    _write_ivfpq_codes(
        _pq_encode_rows(_ivf_assign(vecs, cents, dim), codebook, d, m),
        path,
        append=False,
    )
    _write_index_meta(
        path,
        {
            "kind": "ivfpq",
            "dim": dim,
            "k_centroids": k_centroids,
            "m": m,
            "k_codes": k_codes,
        },
    )


def _write_ivfpq_codes(code_rows: DataFrame, path: str, append: bool) -> int:
    """Pack (vec_id, cent_id, sub, code) rows into one array row per
    vector and publish them partitioned by cent_id (with ``append``, on
    top of the current snapshot). Returns rows written."""
    wide = code_rows.groupBy("vec_id", "cent_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("sub"), F.col("code")))),
            lambda x: x.code.cast("int"),
        ).alias("codes")
    )
    with released(stage(wide)) as wide:
        n = wide.count()
        snapshot.write(wide, path + "/data", partition_by=["cent_id"], append=append)
    return n


def _read_ivfpq_code_rows(spark, path: str) -> DataFrame:
    """Stored wide codes back to (vec_id, cent_id, sub, code) rows."""
    return snapshot.read(spark, path + "/data").select(
        "vec_id", "cent_id", F.posexplode("codes").alias("sub", "code")
    )


def append_to_ivfpq(
    emb: DataFrame, spark, path: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> int:
    """Ingest new vectors: assign to the STORED centroids, encode with
    the STORED codebooks (both frozen between rebuilds — the standard
    IVF/PQ trade), publish them on top of the partitioned code table.
    Linear in the batch; corpus rows never rewritten."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import read_index_meta

    meta = read_index_meta(path)
    dim, m = meta["dim"], meta["m"]
    vecs = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
    )
    cents = spark.read.parquet(path + "/cents")
    codebook = spark.read.parquet(path + "/codebook")
    rows = _pq_encode_rows(
        _ivf_assign(vecs, cents, dim), codebook, dim // m, m
    )
    return _write_ivfpq_codes(rows, path, append=True)


def ivfpq_topk_stored(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k ADC search against a stored IVF-PQ index built by
    ``build_ivfpq``: probe ranking from ``cents``, lookup table from
    ``codebook``, candidates partition-pruned from the centroid-
    partitioned code table. Raw vectors are never read — the stored
    side of the search is m ints per candidate."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import read_index_meta

    meta = read_index_meta(path)
    dim, m = meta["dim"], meta["m"]
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    cents = spark.read.parquet(path + "/cents")
    codebook = spark.read.parquet(path + "/codebook")
    probes = _ivf_probes(q, cents, dim, nprobe)
    lut = _pq_query_lut(q, codebook, dim // m, m)
    return _adc_topk(_read_ivfpq_code_rows(spark, path), probes, lut, k)
