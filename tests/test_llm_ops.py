"""Unit tests for the LLM-pipeline operators: fuzzy dedup correctness on
planted near-dups, ANN recall vs brute force, text stats edge cases."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from gov_ec_pipeline_etl_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)
from gov_ec_pipeline_etl_spark.operators.textstats import (
    lang_id,
    quality_score,
    token_count,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "completely different words about spark catalyst optimizer plans"),
    (4, "el gato y el perro y la casa de la abuela que canta"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_minhash_finds_planted_pair(docs_df):
    pairs = minhash_lsh_pairs(
        docs_df, "doc_id", "text", k=3, num_hashes=12, bands=6,
        jaccard_threshold=0.5,
    ).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
    assert pairs[0].jaccard > 0.6


def test_minhash_bucket_cap_bounds_candidates(spark):
    """max_bucket must bound pair output on a pathological corpus (every
    doc identical text → ONE bucket per band) to C(cap, 2), keep the
    lowest-id survivors, and change nothing when it doesn't bind."""
    n, cap = 40, 5
    clones = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(n)],
        ["doc_id", "text"],
    )
    capped = minhash_lsh_pairs(
        clones, "doc_id", "text", k=3, num_hashes=12, bands=4,
        jaccard_threshold=0.5, max_bucket=cap,
    ).collect()
    # identical docs share every band bucket, so the capped candidate
    # set is exactly the C(cap,2) pairs of the cap lowest ids
    assert {(p.id_a, p.id_b) for p in capped} == {
        (a, b) for a in range(cap) for b in range(a + 1, cap)
    }
    uncapped = minhash_lsh_pairs(
        clones, "doc_id", "text", k=3, num_hashes=12, bands=4,
        jaccard_threshold=0.5,
    ).count()
    assert uncapped == n * (n - 1) // 2
    # non-binding cap (>= bucket occupancy) is a no-op
    loose = minhash_lsh_pairs(
        clones, "doc_id", "text", k=3, num_hashes=12, bands=4,
        jaccard_threshold=0.5, max_bucket=n,
    ).count()
    assert loose == uncapped
    with pytest.raises(ValueError):
        minhash_lsh_pairs(
            clones, "doc_id", "text", max_bucket=1
        )


def test_minhash_estimate_error_bucket_cap(spark):
    """u73's engine path: the estimator audit with max_bucket must (a)
    bound its pair set exactly like minhash_lsh_pairs' cap — the C(cap,
    2) lowest-id pairs on an all-clones corpus, (b) agree with the
    uncapped audit on every surviving pair's estimator columns, and (c)
    be a no-op when the cap doesn't bind."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        minhash_estimate_vs_exact,
    )

    n, cap = 30, 4
    clones = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(n)],
        ["doc_id", "text"],
    )
    kw = dict(k=3, num_hashes=12, bands=4, jaccard_threshold=0.5)
    capped = minhash_estimate_vs_exact(
        clones, "doc_id", "text", max_bucket=cap, **kw
    ).collect()
    assert {(r.id_a, r.id_b) for r in capped} == {
        (a, b) for a in range(cap) for b in range(a + 1, cap)
    }
    uncapped = {
        (r.id_a, r.id_b): (r.est_matches, r.est_jaccard, r.jaccard, r.abs_err)
        for r in minhash_estimate_vs_exact(clones, "doc_id", "text", **kw).collect()
    }
    assert len(uncapped) == n * (n - 1) // 2
    for r in capped:
        assert uncapped[(r.id_a, r.id_b)] == (
            r.est_matches, r.est_jaccard, r.jaccard, r.abs_err
        )
    loose = minhash_estimate_vs_exact(
        clones, "doc_id", "text", max_bucket=n, **kw
    ).count()
    assert loose == len(uncapped)
    with pytest.raises(ValueError):
        minhash_estimate_vs_exact(clones, "doc_id", "text", max_bucket=1)


def test_split_leakage_budgeted_subset(spark):
    """u74's engine path: the budgeted leakage audit must be a SUBSET of
    u29's exact form (the cap only removes candidate pairs, never adds
    or rewrites them), agree on every surviving row, and be a no-op
    under a non-binding cap."""
    from gov_ec_pipeline_etl_spark.plans.training_queries import _split_leakage
    from tests.conftest import SF_SMOKE

    exact = {
        (r.id_a, r.id_b): (r.split_a, r.split_b, r.jaccard)
        for r in _split_leakage(spark, SF_SMOKE, max_bucket=None).collect()
    }
    capped = _split_leakage(spark, SF_SMOKE, max_bucket=64).collect()
    assert len(capped) <= len(exact)
    for r in capped:
        assert exact[(r.id_a, r.id_b)] == (r.split_a, r.split_b, r.jaccard)
    # sf0.001 buckets never reach 10^6 occupants: cap is a no-op
    loose = _split_leakage(spark, SF_SMOKE, max_bucket=10**6).collect()
    assert {(r.id_a, r.id_b) for r in loose} == set(exact)


def test_ngram_jaccard_finds_planted_pair(docs_df):
    pairs = ngram_jaccard_pairs(docs_df, "doc_id", "text", k=3).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_simhash_near_dup(docs_df):
    pairs = simhash_pairs(docs_df, "doc_id", "text", max_hamming=12).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of to in the house"),
            (2, "el perro de la casa y el gato que canta bien"),
            (3, "xyzzy plugh"),
            (4, ""),
        ],
        ["i", "text"],
    )
    rows = {
        r.i: r
        for r in df.select(
            "i",
            lang_id("text").alias("lang"),
            token_count("text").alias("n"),
            quality_score("text").alias("q"),
        ).collect()
    }
    assert rows[1].lang == "en"
    assert rows[2].lang == "es"
    assert rows[3].lang == "und"
    assert rows[4].n == 0
    assert 0.0 <= rows[3].q <= 1.0


def test_s02_bounded_oracle_equals_exact():
    """VERDICT r9 #6: s02's registered oracle is now the bounded
    bucketing replay. Both branch shapes (single 8-plane table and
    4x12-plane banded — the sf1 form) must reproduce the exact
    quadratic scan's answer, row for row, in DuckDB alone."""
    from gov_ec_pipeline_etl_spark.operators.similarity import hyperplanes
    from gov_ec_pipeline_etl_spark.oracle import duckdb_connection
    from gov_ec_pipeline_etl_spark.plans.similarity_queries import (
        _s02_bounded_sql,
        _s02_exact_oracle,
    )
    from tests.conftest import SF_SMOKE

    con = duckdb_connection(SF_SMOKE)
    try:
        exact = sorted(con.execute(_s02_exact_oracle()).fetchall())
        assert exact, "fixture must plant near-dup pairs"
        single = _s02_bounded_sql(64, [hyperplanes(64, 8, 42)])
        assert sorted(con.execute(single).fetchall()) == exact
        banded = _s02_bounded_sql(
            64, [hyperplanes(64, 12, 42 + 101 * b) for b in range(4)]
        )
        assert sorted(con.execute(banded).fetchall()) == exact
    finally:
        con.close()


def test_ann_recall_vs_brute_force(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16)).astype("float32")
    # 10 clusters of 4 near-identical vectors → meaningful neighbors
    vecs = [
        (i, (base[i // 4 * 4] + 0.01 * rng.standard_normal(16).astype("float32")).tolist())
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = df.where(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, df, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_cosine_topk(queries, df, k=3, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # 4-plane LSH on tight clusters: most survive


def test_approx_distinct_accuracy(spark):
    """HLL++ at rsd=0.01 must land within 3% of exact on the testdata."""
    import pyspark.sql.functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.03


def test_connected_components_known_graph(spark):
    """Chain 1-2-3, pair 10-11, singleton edge 20-21: three components
    labeled by their minimum node."""
    from gov_ec_pipeline_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (21, 20)], "id_a: bigint, id_b: bigint"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)}


def test_stateful_counters_match_batch(spark):
    """applyInPandasWithState counters across micro-batches equal the
    batch aggregate."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.plans.util import T
    from gov_ec_pipeline_etl_spark.streaming.stateful import run_user_counters

    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in run_user_counters(spark, sf).collect()
    }
    want = {
        r.user_id: (r.n, r.s)
        for r in T(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert got == want


def test_simhash_column_equals_table(spark, docs_df):
    """The Column-level simhash (spec form) and the explode/groupBy table
    form (production form) must produce identical fingerprints."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        simhash,
        simhash_table,
    )

    via_col = {
        r.doc_id: r.fp
        for r in docs_df.select(
            "doc_id", simhash("text").alias("fp")
        ).collect()
    }
    via_table = {
        r.id: r.fp for r in simhash_table(docs_df, "doc_id", "text").collect()
    }
    assert via_col == via_table


def test_stratified_sample_fractions(spark):
    """sampleBy hits requested per-stratum fractions within tolerance."""
    from gov_ec_pipeline_etl_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fracs = {"en": 0.5, "es": 0.2, "de": 1.0, "fr": 0.0, "zh": 0.0}
    out = stratified_sample(docs, "lang", fracs, seed=7)
    got = {r.lang: r.n for r in out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    totals = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    assert got.get("fr", 0) == 0 and got.get("zh", 0) == 0
    assert got["de"] == totals["de"]
    assert abs(got["en"] / totals["en"] - 0.5) < 0.15
    assert abs(got["es"] / totals["es"] - 0.2) < 0.15


def test_hash_sample_deterministic_and_sized(spark):
    from gov_ec_pipeline_etl_spark.operators.sampling import (
        deterministic_hash_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    s1 = {r.doc_id for r in deterministic_hash_sample(docs, "doc_id", 0.3).collect()}
    s2 = {r.doc_id for r in deterministic_hash_sample(docs, "doc_id", 0.3).collect()}
    assert s1 == s2  # reproducible
    assert abs(len(s1) / docs.count() - 0.3) < 0.08
    # monotone: smaller fraction ⊂ larger fraction
    s_small = {
        r.doc_id for r in deterministic_hash_sample(docs, "doc_id", 0.1).collect()
    }
    assert s_small <= s1


def test_multi_probe_lsh_improves_recall(spark):
    """Probing 1-bit-adjacent buckets must not lose (and should gain)
    recall vs single-bucket LSH, and stays a subset of exact top-k
    correctness-wise."""
    import numpy as np
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.operators.similarity import (
        cosine_topk,
        lsh_cosine_topk,
    )

    rng = np.random.default_rng(13)
    base = rng.standard_normal((60, 16)).astype("float32")
    vecs = [
        (i, (base[i // 3 * 3] + 0.02 * rng.standard_normal(16).astype("float32")).tolist())
        for i in range(60)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = df.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, df, k=2).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in lsh_cosine_topk(queries, df, k=2, n_planes=6).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in lsh_cosine_topk(
            queries, df, k=2, n_planes=6, multi_probe=3
        ).collect()
    }
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single
    assert r_multi >= 0.5


def test_incremental_neardup_against_stored_sketch(spark, tmp_path):
    """The stored-sketch incremental path must reproduce exactly what a
    from-scratch asymmetric check computes: build the corpus sketch
    index, read it back, and check a mutated-arrival batch against it."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        build_sketch_index,
        incremental_neardup_against,
        minhash_band_keys,
        minhash_sketch,
        jaccard_verify,
        read_sketch_index,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    arrivals = corpus.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" zz0 zz1 zz2")).alias("text"),
    )

    path = str(tmp_path / "corpus_sketch")
    build_sketch_index(corpus, "doc_id", "text", path, k=3)
    stored = read_sketch_index(spark, path)

    got = sorted(
        map(
            tuple,
            incremental_neardup_against(arrivals, stored).collect(),
        )
    )

    # from-scratch reference: same math, sketch not round-tripped
    sh_corpus = minhash_sketch(corpus, "doc_id", "text", 3)
    sh_new = minhash_sketch(arrivals, "doc_id", "text", 3)
    cand = (
        minhash_band_keys(sh_new)
        .withColumnsRenamed({"id": "id_a"})
        .join(
            minhash_band_keys(sh_corpus).withColumnsRenamed({"id": "id_b"}),
            ["band_idx", "band_key"],
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    want = sorted(
        map(
            tuple,
            jaccard_verify(cand, sh_new.unionByName(sh_corpus), 0.5, on="h60")
            .select(
                F.col("id_a").alias("new_id"),
                F.col("id_b").alias("corpus_id"),
                "jaccard",
            )
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 0  # every arrival is a near-dup of its source doc


def test_ivf_stored_index_matches_inline_search(spark, tmp_path):
    """build_ivf_index + ivf_search_against must reproduce u06's inline
    IVF search exactly (same centroids, nprobe, k, tie-breaks), and the
    index scan must be partition-pruned down to the probed centroids."""
    from gov_ec_pipeline_etl_spark.operators.similarity import (
        as_double,
        build_ivf_index,
        ivf_search_against,
        vec_dim,
    )
    from gov_ec_pipeline_etl_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = vec_dim(emb, "embedding")
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    cents = vecs.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    queries = vecs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )

    path = str(tmp_path / "ivf_index")
    build_ivf_index(vecs, cents, dim, path)
    result = ivf_search_against(spark, path, queries, cents, dim, nprobe=2, k=5)

    got = sorted(map(tuple, result.collect()))
    want = sorted(
        map(tuple, all_queries()["u06_ivf_topk"].spark(spark, sf).collect())
    )
    assert got == want and len(got) > 0

    # the inverted-file property: the scan of the index is pruned by a
    # dynamic partition-pruning subquery on cent_id (never a full scan)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1200]


def test_vec_dim_skips_leading_null_vectors(spark):
    """A null vector in the first row must not shadow real vectors: the
    dim comes from the first NON-NULL vector (ADVICE r3 — the sentinel-1
    path would silently truncate every cosine kernel to element [0])."""
    from gov_ec_pipeline_etl_spark.operators.similarity import vec_dim

    df = spark.createDataFrame(
        [(1, None), (2, [0.1, 0.2, 0.3, 0.4])],
        "vec_id int, embedding array<double>",
    )
    assert vec_dim(df, "embedding") == 4
    # genuinely empty (or all-null) input still yields the harmless sentinel
    assert vec_dim(df.where("vec_id < 0"), "embedding") == 1
    assert vec_dim(df.where("vec_id = 1"), "embedding") == 1


def test_image_dhash_near_dup(spark):
    """dHash over real PPM bytes: a brightness-nudged copy must land
    within the Hamming verify threshold of its base image and pair up
    through the chunk-LSH stage; hashes are deterministic across runs."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        fingerprint_chunk_pairs,
    )
    from gov_ec_pipeline_etl_spark.operators.multimodal import (
        dhash_images,
        ppm_fixture_payloads,
    )

    off = 1000
    ids = spark.createDataFrame(
        [(i,) for i in range(8)] + [(i + off,) for i in range(8)],
        ["media_id"],
    )
    fp = dhash_images(ppm_fixture_payloads(ids, mut_offset=off)).persist()
    rows = {r.id: r.fp for r in fp.collect()}
    assert len(rows) == 16
    # determinism: a second pass produces identical fingerprints
    again = {
        r.id: r.fp
        for r in dhash_images(ppm_fixture_payloads(ids, mut_offset=off)).collect()
    }
    assert rows == again
    # every planted copy is within the verify threshold of its base
    for i in range(8):
        d = bin(rows[i] ^ rows[i + off]).count("1")
        assert d <= 10, (i, d)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in fingerprint_chunk_pairs(fp, max_hamming=10).collect()
    }
    assert all((i, i + off) in pairs for i in range(8))
    # the emitted hamming column matches the reference xor/popcount
    for i in range(8):
        assert pairs[(i, i + off)] == bin(rows[i] ^ rows[i + off]).count("1")
    fp.unpersist()


def test_audio_envelope_fp_near_dup(spark):
    """Audio envelope fingerprint over real WAV bytes (u70): a
    loudness-nudged copy must land within Hamming <= 2 of its base clip
    and pair up through the group-level chunk-LSH; hashes are
    deterministic and integer-exact vs a numpy reference."""
    import numpy as np

    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        fingerprint_group_pairs,
    )
    from gov_ec_pipeline_etl_spark.operators.multimodal import (
        AUDIO_FP_SEGMENTS,
        WAV_MUT_DELTA,
        WAV_MUT_STEP,
        audio_envelope_fp,
        wav_fixture_payloads,
    )

    off = 1000
    ids = spark.createDataFrame(
        [(i,) for i in range(8)] + [(i + off,) for i in range(8)],
        ["media_id"],
    )
    fp = audio_envelope_fp(wav_fixture_payloads(ids, mut_offset=off)).persist()
    rows = {r.id: r.fp for r in fp.collect()}
    assert len(rows) == 16

    # integer-exact vs an independent numpy replay of the fixture math
    g = AUDIO_FP_SEGMENTS
    def ref_fp(base: int, mut: bool) -> int:
        ns = 50 + base % 101
        i = np.arange(ns, dtype=np.int64)
        v = (base * 31 + i * 17) % 4001
        if mut:
            v = v + np.where(i % WAV_MUT_STEP == 0, WAV_MUT_DELTA, 0)
        e = np.zeros(g, dtype=np.int64)
        np.add.at(e, (i * g) // ns, v * v)
        bits = (e[1:] > e[:-1]).astype(np.int64)
        return int((bits << np.arange(g - 1)).sum())

    for i in range(8):
        assert rows[i] == ref_fp(i, False), i
        assert rows[i + off] == ref_fp(i, True), i
        assert bin(rows[i] ^ rows[i + off]).count("1") <= 2, i

    with released(fingerprint_group_pairs(fp, max_hamming=2)) as p:
        grouped = p.collect()
    # every planted copy pairs with its base: either as a diagonal
    # clone-family row (hamming 0) or a cross row at hamming <= 2
    fps_by_id = rows
    covered = set()
    for r in grouped:
        ids_a = [i for i, f in fps_by_id.items() if f == r.fp_a]
        ids_b = [i for i, f in fps_by_id.items() if f == r.fp_b]
        if r.fp_a == r.fp_b:
            covered |= {(a, b) for a in ids_a for b in ids_a if a < b}
        else:
            covered |= {
                (min(a, b), max(a, b)) for a in ids_a for b in ids_b
            }
    assert all((i, i + off) in covered for i in range(8))
    fp.unpersist()


def test_video_fp_near_dup(spark):
    """Video fingerprint over real VID container bytes (u72): the
    container walk parses genuine payloads, the fingerprint is
    integer-exact vs an independent numpy replay of the fixture math
    (frame-sampled per-frame dHash + per-bit majority), a mutated copy
    lands within Hamming <= 6 of its base, and fingerprints are
    high-entropy (the r8 drop reason — the linear ramp collapsed them)."""
    import numpy as np

    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        fingerprint_group_pairs,
    )
    from gov_ec_pipeline_etl_spark.operators.multimodal import (
        DHASH_GRID_H,
        DHASH_GRID_W,
        VID_FRAME_STRIDE,
        VID_MOD,
        VID_MUT_DELTA,
        VID_MUT_STEP,
        _vid_pixels,
        video_dhash_fp,
        video_fixture_payloads,
    )

    off = 1000
    n = 12
    ids = spark.createDataFrame(
        [(i,) for i in range(n)] + [(i + off,) for i in range(n)],
        ["media_id"],
    )
    payloads = video_fixture_payloads(ids, mut_offset=off)
    # container roundtrip: dims and frame count match the id formula
    sample = {r.media_id: bytes(r.payload) for r in payloads.collect()}
    for i in (0, 5, n - 1):
        w, h, planes = _vid_pixels(sample[i])
        assert (w, h, planes.shape[0]) == (12 + i % 7, 6 + i % 5, 6 + i % 4)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _vid_pixels(b"P6\n4 4\n255\n" + b"\0" * 48)

    fp = video_dhash_fp(video_fixture_payloads(ids, mut_offset=off)).persist()
    rows = {r.id: r.fp for r in fp.collect()}
    assert len(rows) == 2 * n
    # high entropy: every base video gets a distinct fingerprint
    assert len({rows[i] for i in range(n)}) == n

    gw, gh = DHASH_GRID_W, DHASH_GRID_H

    def ref_fp(base: int, mut: bool) -> int:
        w, h, nf = 12 + base % 7, 6 + base % 5, 6 + base % 4
        gy = np.arange(gh, dtype=np.int64)
        gx = np.arange(gw, dtype=np.int64)
        ii = ((gy[:, None] * h) // gh) * w + (gx[None, :] * w) // gw
        fs = range(0, nf, VID_FRAME_STRIDE)
        bit_sum = np.zeros((gh, gw - 1), dtype=np.int64)
        for f in fs:
            x = (base * 1103515245 + f * 12345 + ii * 2654435761) % VID_MOD
            pix = ((x * x) % VID_MOD) % 256
            if mut:
                pix = (pix + np.where(ii % VID_MUT_STEP == 0, VID_MUT_DELTA, 0)) % 256
            bit_sum += (pix[:, 1:] > pix[:, :-1]).astype(np.int64)
        bits = (2 * bit_sum >= len(fs)).astype(np.int64)
        return int((bits.reshape(-1) << np.arange((gw - 1) * gh)).sum())

    for i in range(n):
        assert rows[i] == ref_fp(i, False), i
        assert rows[i + off] == ref_fp(i, True), i
        assert bin(rows[i] ^ rows[i + off]).count("1") <= 6, i

    with released(fingerprint_group_pairs(fp, max_hamming=6)) as p:
        grouped = p.collect()
    covered = set()
    for r in grouped:
        ids_a = [i for i, f in rows.items() if f == r.fp_a]
        ids_b = [i for i, f in rows.items() if f == r.fp_b]
        if r.fp_a == r.fp_b:
            covered |= {(a, b) for a in ids_a for b in ids_a if a < b}
        else:
            covered |= {(min(a, b), max(a, b)) for a in ids_a for b in ids_b}
    # chunk-LSH recall: >= 4 flipped bits can straddle all four chunks,
    # so demand coverage only where the pigeonhole guarantees a shared
    # chunk (hamming <= 3), like the production contract does
    for i in range(n):
        if bin(rows[i] ^ rows[i + off]).count("1") <= 3:
            assert (i, i + off) in covered, i
    fp.unpersist()


def test_image_dhash_clone_family_bounded(spark):
    """VERDICT r7 #1: exact-clone families (the PPM fixture's ~23k-id
    content period plants them at sf3; real image corpora are clone-heavy
    via thumbnails/re-posts) must cost ONE diagonal row carrying
    n_pairs = C(n,2), not C(n,2) emitted pairs. fingerprint_group_pairs
    is the u69 production path — this pins its bound and its
    losslessness w.r.t. the doc-level fingerprint_chunk_pairs."""
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        fingerprint_chunk_pairs,
        fingerprint_group_pairs,
    )
    from gov_ec_pipeline_etl_spark.operators.multimodal import (
        dhash_images,
        ppm_fixture_payloads,
    )

    period = 13 * 7 * 256  # ppm_fixture_payloads content period in the id
    clones = [7 + k * period for k in range(6)]  # 6 byte-identical images
    others = [1, 2, 3]
    ids = spark.createDataFrame([(i,) for i in clones + others], ["media_id"])
    fp = dhash_images(ppm_fixture_payloads(ids)).persist()
    fps = {r.id: r.fp for r in fp.collect()}
    assert len({fps[i] for i in clones}) == 1  # genuinely identical hashes

    doc_pairs = fingerprint_chunk_pairs(fp, max_hamming=10).collect()
    with released(fingerprint_group_pairs(fp, max_hamming=10)) as g:
        grouped = g.collect()

    # the clone family is ONE row with the full multiplicity
    diag = [r for r in grouped if r.fp_a == r.fp_b]
    assert len(diag) == 1
    assert diag[0].hamming == 0 and diag[0].n_pairs == 15  # C(6,2)
    # bounded: rows scale with distinct fingerprints, not family size
    assert len(grouped) < len(doc_pairs)
    # lossless: multiplicity and explode-back reproduce the doc pairs
    assert sum(r.n_pairs for r in grouped) == len(doc_pairs)
    by_fp: dict[int, list[int]] = {}
    for i, f in fps.items():
        by_fp.setdefault(f, []).append(i)
    rebuilt = set()
    for r in grouped:
        if r.fp_a == r.fp_b:
            mem = by_fp[r.fp_a]
            rebuilt |= {(a, b) for a in mem for b in mem if a < b}
        else:
            rebuilt |= {
                (min(a, b), max(a, b))
                for a in by_fp[r.fp_a] for b in by_fp[r.fp_b]
            }
    assert rebuilt == {(r.id_a, r.id_b) for r in doc_pairs}
    fp.unpersist()


def test_ngram_stored_index_matches_inline(spark, tmp_path, docs_df):
    """write_ngram_index → ngram_pairs_from_index must bit-match the
    inline ngram_jaccard_pairs on the same corpus (d04's amortized
    deployment form, VERDICT r3 #3), and the stored layout must be
    hash-range partitioned (hb=... directories)."""
    import os

    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        ngram_jaccard_pairs,
        ngram_pairs_from_index,
        write_ngram_index,
    )

    path = str(tmp_path / "idx")
    write_ngram_index(docs_df, "doc_id", "text", path, k=3, max_df=50)
    stored = sorted(map(tuple, ngram_pairs_from_index(spark, path, 0.5).collect()))
    inline = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(
                docs_df, "doc_id", "text", k=3, jaccard_threshold=0.5, max_df=50
            ).collect(),
        )
    )
    assert stored == inline and len(stored) > 0
    from gov_ec_pipeline_etl_spark.sinks import snapshot

    assert any(
        d.startswith("hb=") for d in os.listdir(snapshot.current(path + "/kept"))
    )
    assert os.path.isdir(path + "/head")


def test_ppm_wav_codecs_parse_real_bytes():
    """The codecs are real parsers, not fixture-shape readers: P6 with
    header comments and arbitrary whitespace; WAV with an extra chunk
    before data and word-aligned odd-size chunks; malformed payloads
    raise instead of returning garbage."""
    import struct

    import numpy as np

    from gov_ec_pipeline_etl_spark.operators.multimodal import (
        decode_ppm,
        decode_wav,
    )

    pix = np.arange(2 * 3 * 3, dtype=np.uint8)  # 2x3 RGB
    ppm = b"P6 # inline\n# full comment line\n 2\t3 # wxh\n255\n" + pix.tobytes()
    w, h, r, g, b = decode_ppm(ppm)
    n = 2 * 3
    assert (w, h) == (2, 3)
    assert r == int(pix[0::3].sum()) * 1_000_000 // n
    assert b == int(pix[2::3].sum()) * 1_000_000 // n

    samples = np.array([0, 100, 4000, 7], dtype="<i2")
    data = samples.tobytes()
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # odd size, padded
    wav = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + extra
        + b"data" + struct.pack("<I", len(data)) + data
    )
    sr, ns, amp, energy = decode_wav(wav)
    s = samples.astype(np.int64)
    assert (sr, ns) == (8000, 4)
    assert amp == int(s.sum()) * 1_000_000 // 4
    assert energy == int((s * s).sum()) * 1_000_000 // 4

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_ppm(b"P5\n2 2\n255\n" + bytes(4))  # P5 is not P6
    with _pytest.raises(ValueError):
        decode_wav(b"RIFX" + bytes(40))  # big-endian RIFX unsupported
    with _pytest.raises(ValueError):
        decode_wav(  # stereo rejected
            b"RIFF" + struct.pack("<I", 0) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
            + b"data" + struct.pack("<I", 0)
        )


def test_banded_lsh_matches_exact_and_single_table(spark):
    """Banded hyperplane LSH (12 planes × 4 bands) must return exactly
    the same near-dup pair set as the single 8-plane table AND the
    exact quadratic scan on a corpus with planted scaled copies
    (parallel vectors share signs under every plane set)."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.operators.similarity import cosine_near_pairs
    from gov_ec_pipeline_etl_spark.plans.util import T

    emb = T(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    planted = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.5)).cast("float")).alias(
            "embedding"
        ),
    )
    corpus = emb.unionByName(planted)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    exact = rows(cosine_near_pairs(corpus, bucketed=False))
    single = rows(cosine_near_pairs(corpus, bucketed=True))
    banded = rows(cosine_near_pairs(corpus, bucketed=True, n_planes=12, bands=4))
    assert len(exact) > 0
    assert single == exact
    assert banded == exact


def test_ngram_incremental_applies_corpus_head_cut(spark, tmp_path):
    """An arrival shingle that is HEAD in the stored corpus must not
    count toward intersections or the arrival's set size — both sides
    carry the corpus's cut, keeping incremental Jaccard consistent with
    the full-corpus query semantics."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        ngram_incremental_against_index,
        write_ngram_index,
    )

    # corpus: 5 docs share one stopword shingle ("aa bb cc" via common
    # prefix), each carries a unique rare tail
    rows = [(i, f"aa bb cc u{i} v{i} w{i}") for i in range(5)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    write_ngram_index(corpus, "doc_id", "text", path, k=3, max_df=3)

    # arrival = copy of doc 0: shares the head shingle AND the rare tail
    arrival = spark.createDataFrame(
        [(100, "aa bb cc u0 v0 w0")], "doc_id long, text string"
    )
    out = ngram_incremental_against_index(
        arrival, spark, path, threshold=0.1
    ).collect()
    # doc 0's kept set = its rare shingles only; the arrival matches all
    # of them and nothing else → jaccard exactly 1.0 against doc 0, and
    # NO pair with docs 1-4 (shared head shingle was cut on both sides)
    assert [(r.new_id, r.corpus_id, r.jaccard) for r in out] == [(100, 0, 1.0)]
    assert ngram_incremental_against_index(
        arrival.select("doc_id", F.lit("aa bb cc zz").alias("text")),
        spark, path, threshold=0.1,
    ).count() == 0  # head + unseen shingles only → no candidates


def test_codec_property_roundtrip():
    """Property: for arbitrary dimensions/sample counts and pixel/sample
    values, encoding a genuine PPM/WAV and decoding it recovers the
    header fields and integer-ppm statistics computed independently."""
    import struct

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gov_ec_pipeline_etl_spark.operators.multimodal import (
        decode_ppm,
        decode_wav,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 40), h=st.integers(1, 30),
        seed=st.integers(0, 2**31 - 1),
    )
    def ppm_case(w, h, seed):
        rng = np.random.default_rng(seed)
        pix = rng.integers(0, 256, w * h * 3).astype(np.uint8)
        payload = f"P6\n{w} {h}\n255\n".encode() + pix.tobytes()
        gw, gh, r, g, b = decode_ppm(payload)
        n = w * h
        px = pix.astype(np.int64)
        assert (gw, gh) == (w, h)
        assert r == int(px[0::3].sum()) * 1_000_000 // n
        assert g == int(px[1::3].sum()) * 1_000_000 // n
        assert b == int(px[2::3].sum()) * 1_000_000 // n

    @settings(max_examples=50, deadline=None)
    @given(
        sr=st.integers(1, 192_000), ns=st.integers(0, 500),
        seed=st.integers(0, 2**31 - 1),
    )
    def wav_case(sr, ns, seed):
        rng = np.random.default_rng(seed)
        s = rng.integers(-32768, 32768, ns).astype("<i2")
        data = s.tobytes()
        payload = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )
        gsr, gns, amp, energy = decode_wav(payload)
        assert (gsr, gns) == (sr, ns)
        if ns:
            s64 = s.astype(np.int64)
            # negative sums use PYTHON floor division — the engine-side
            # contract (fixtures keep sums non-negative for the oracle,
            # but the decoder itself must be total)
            assert amp == int(s64.sum()) * 1_000_000 // ns
            assert energy == int((s64 * s64).sum()) * 1_000_000 // ns
        else:
            assert (amp, energy) == (0, 0)

    ppm_case()
    wav_case()


def test_simhash_group_pairs_bounded_and_lossless(spark):
    """The density guard from the round-4 sf1 finding (130.8M doc pairs
    on a low-diversity corpus): on a corpus where many documents share
    identical fingerprints, ``simhash_group_pairs`` must emit rows
    bounded by DISTINCT-fingerprint pairs — while losslessly carrying
    the full doc-pair multiplicity: Σ n_pairs == |simhash_pairs| and
    exploding groups reproduces the exact pair set."""
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        simhash_diversity,
        simhash_group_pairs,
        simhash_table,
    )

    # 120 docs drawn from 6 template texts -> 6 distinct fingerprints;
    # doc-level pairs are O(n^2) within each 20-doc identical group.
    templates = [
        "alpha beta gamma delta epsilon zeta", "alpha beta gamma delta epsilon eta",
        "one two three four five six seven", "one two three four five six eight",
        "spark catalyst tungsten codegen shuffle", "totally unrelated words here now",
    ]
    rows = [(i, templates[i % 6]) for i in range(120)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    fp = simhash_table(df, "doc_id", "text")
    assert simhash_diversity(fp) <= 6 / 120  # the cheap stat flags density

    doc_pairs = simhash_pairs(df, "doc_id", "text", max_hamming=8).collect()
    with released(simhash_group_pairs(df, "doc_id", "text", max_hamming=8)) as g:
        grouped = g.collect()

    # bounded: at most C(6,2)+6 = 21 rows regardless of the 120-doc corpus
    assert len(grouped) <= 21
    assert len(doc_pairs) > 10 * len(grouped)  # the doc form IS quadratic
    # lossless multiplicity
    assert sum(r.n_pairs for r in grouped) == len(doc_pairs)
    # exploding group rows via the fingerprint table reproduces the pair set
    fps = {r.id: r.fp for r in fp.collect()}
    by_fp: dict[int, list[int]] = {}
    for i, f in fps.items():
        by_fp.setdefault(f, []).append(i)
    rebuilt = set()
    for r in grouped:
        if r.fp_a == r.fp_b:
            ids = by_fp[r.fp_a]
            rebuilt |= {(a, b) for a in ids for b in ids if a < b}
        else:
            rebuilt |= {
                (min(a, b), max(a, b))
                for a in by_fp[r.fp_a] for b in by_fp[r.fp_b]
            }
    assert rebuilt == {(r.id_a, r.id_b) for r in doc_pairs}


def test_ngram_index_lifecycle_cli(spark, tmp_path, capsys):
    """The stored-index lifecycle a user actually operates (r4 VERDICT
    #5), driven through the CLI: build → probe (u17 shape) → ingest →
    pairs → compact → re-probe/re-pairs. Compaction moves rows between
    files, never changes them — results must be BIT-identical across
    it, and the file count must drop after append-heavy ingest."""
    import json as _json

    from gov_ec_pipeline_etl_spark.cli import main

    corpus = [(i, f"alpha beta gamma delta epsilon word{i} zeta eta theta") for i in range(40)]
    arrivals = [
        (100, "alpha beta gamma delta epsilon word7 zeta eta theta"),  # dup of 7
        (101, "totally different new content nothing shared here at all"),
    ]
    corpus_pq, arrivals_pq = str(tmp_path / "corpus"), str(tmp_path / "arrivals")
    spark.createDataFrame(corpus, ["doc_id", "text"]).write.parquet(corpus_pq)
    spark.createDataFrame(arrivals, ["doc_id", "text"]).write.parquet(arrivals_pq)
    idx = str(tmp_path / "idx")

    def run(*argv):
        assert main(list(argv)) == 0
        return capsys.readouterr().out.strip().splitlines()

    run("index", "build", idx, corpus_pq, "--max-df", "30")

    def probe():
        lines = run("index", "probe", idx, arrivals_pq, "--limit", "1000")
        return sorted(lines[:-1]), _json.loads(lines[-1])["total_rows"]

    def pairs():
        lines = run("index", "pairs", idx, "--limit", "100000")
        return sorted(lines[:-1]), _json.loads(lines[-1])["total_rows"]

    probe_rows0, probe_n0 = probe()
    assert probe_n0 >= 1  # the planted dup of doc 7 is found
    assert any('"new_id": 100' in ln and '"corpus_id": 7' in ln for ln in probe_rows0)

    run("index", "ingest", idx, arrivals_pq)
    # post-ingest snapshots are the compaction-invariance reference
    probe_rows, probe_n = probe()
    pairs_rows, pairs_n = pairs()
    # ingested arrival 100 now pairs with corpus doc 7 inside the index
    assert any('"id_a": 7' in ln and '"id_b": 100' in ln for ln in pairs_rows)

    stats_before = _json.loads(run("index", "stats", idx)[-1])
    result = _json.loads(run("index", "compact", idx)[-1])
    assert result["files_after"] < result["files_before"]
    stats_after = _json.loads(run("index", "stats", idx)[-1])
    assert stats_after["rows"] == stats_before["rows"]
    assert stats_after["docs"] == stats_before["docs"]

    # bit-identical results across the compaction
    assert probe() == (probe_rows, probe_n)
    assert pairs() == (pairs_rows, pairs_n)


def test_minhash_sketch_index_lifecycle_cli(spark, tmp_path, capsys):
    """MinHash sketch index: build → probe → ingest → pairs → compact →
    bit-identical re-probe/re-pairs through the CLI."""
    import json as _json

    from gov_ec_pipeline_etl_spark.cli import main

    corpus = [(i, f"alpha beta gamma delta epsilon word{i} zeta eta theta") for i in range(30)]
    arrivals = [(200, "alpha beta gamma delta epsilon word3 zeta eta theta")]
    corpus_pq, arrivals_pq = str(tmp_path / "c"), str(tmp_path / "a")
    spark.createDataFrame(corpus, ["doc_id", "text"]).write.parquet(corpus_pq)
    spark.createDataFrame(arrivals, ["doc_id", "text"]).write.parquet(arrivals_pq)
    idx = str(tmp_path / "mh_idx")

    def run(*argv):
        assert main(list(argv)) == 0
        lines = capsys.readouterr().out.strip().splitlines()
        # row order from limit().collect() is not deterministic —
        # canonicalize (the summary line stays last)
        return sorted(lines[:-1]), lines[-1]

    run("index", "build", idx, corpus_pq, "--kind", "minhash")
    probe0, _ = run("index", "probe", idx, arrivals_pq, "--limit", "1000")
    assert any('"new_id": 200' in ln and '"corpus_id": 3' in ln for ln in probe0)

    run("index", "ingest", idx, arrivals_pq)
    probe1 = run("index", "probe", idx, arrivals_pq, "--limit", "1000")
    # the replayed arrival also reports itself (new_id = corpus_id)
    assert any('"new_id": 200' in ln and '"corpus_id": 200' in ln for ln in probe1[0])
    pairs1 = run("index", "pairs", idx, "--limit", "100000")
    assert any('"id_a": 3' in ln and '"id_b": 200' in ln for ln in pairs1[0])

    res = _json.loads(run("index", "compact", idx)[1])
    assert res["files_after"] <= res["files_before"]
    assert run("index", "probe", idx, arrivals_pq, "--limit", "1000") == probe1
    assert run("index", "pairs", idx, "--limit", "100000") == pairs1


def test_ivf_index_lifecycle_cli(spark, tmp_path, capsys):
    """IVF index: build (centroid-partitioned layout) → probe top-k →
    ingest (assign to frozen centroids) → compact → bit-identical
    re-probe through the CLI."""
    import json as _json

    import numpy as np

    from gov_ec_pipeline_etl_spark.cli import main

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((60, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    emb_pq = str(tmp_path / "emb")
    spark.createDataFrame(rows, ["vec_id", "embedding"]).write.parquet(emb_pq)
    # arrivals: a near-copy of vector 20 (id 900) plus a fresh one
    arr = [(900, [float(x) for x in vecs[20] * 1.5]),
           (901, [float(x) for x in rng.standard_normal(16)])]
    arr_pq = str(tmp_path / "arr")
    spark.createDataFrame(arr, ["vec_id", "embedding"]).write.parquet(arr_pq)
    idx = str(tmp_path / "ivf_idx")

    def run(*argv):
        assert main(list(argv)) == 0
        lines = capsys.readouterr().out.strip().splitlines()
        return sorted(lines[:-1]), lines[-1]

    run("index", "build", idx, emb_pq, "--kind", "ivf", "--k-centroids", "4")
    stats = _json.loads(run("index", "stats", idx)[1])
    assert stats["rows"] == 60 and stats["kind"] == "ivf"

    # scaled copy of vec 20 must retrieve 20 as its top neighbor
    # (parallel vectors share the argmax centroid)
    probe0, _ = run("index", "probe", idx, arr_pq, "--nprobe", "4", "--limit", "1000")
    assert any('"query_id": 900' in ln and '"neighbor_id": 20' in ln
               and '"rnk": 1' in ln for ln in probe0)

    run("index", "ingest", idx, arr_pq)
    assert _json.loads(run("index", "stats", idx)[1])["rows"] == 62
    probe1 = run("index", "probe", idx, arr_pq, "--nprobe", "4", "--limit", "1000")

    res = _json.loads(run("index", "compact", idx)[1])
    assert res["files_after"] <= res["files_before"]
    assert run("index", "probe", idx, arr_pq, "--nprobe", "4", "--limit", "1000") == probe1


def test_minhash_estimate_error_extends_d02_losslessly(spark):
    """u20's pair set IS d02's pair set (same sketch, same verify) —
    the estimator columns extend it without changing membership — and
    the estimate/error arithmetic is internally consistent."""
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        minhash_estimate_vs_exact,
    )

    base = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["a b c d e f g h", "a b c d e f g x", "p q r s t u v w",
             "p q r s t u v y", "m n o z z1 z2 z3 z4"]
        )],
        ["doc_id", "text"],
    )
    with released(
        minhash_lsh_pairs(base, "doc_id", "text", k=3, num_hashes=12,
                          bands=4, jaccard_threshold=0.3)
    ) as d02_pairs:
        expect = {(r.id_a, r.id_b, r.jaccard) for r in d02_pairs.collect()}
    with released(
        minhash_estimate_vs_exact(base, "doc_id", "text", k=3,
                                  num_hashes=12, bands=4,
                                  jaccard_threshold=0.3)
    ) as est:
        rows = est.collect()
    assert {(r.id_a, r.id_b, r.jaccard) for r in rows} == expect
    assert expect  # planted near-dups must surface
    for r in rows:
        assert 0 <= r.est_matches <= 12
        assert r.est_jaccard == round(r.est_matches / 12, 6)
        assert abs(r.abs_err - abs(r.est_matches / 12 - r.jaccard)) < 1e-9
        # ≥1 band must collide for the pair to be a candidate at all:
        # some 3-hash run agreed, so at least 3 components match
        assert r.est_matches >= 3


@pytest.mark.parametrize("name", ["u19_ann_recall", "u22_ivf_recall"])
def test_recall_query_bounds(spark, name):
    """The recall queries' counters are mutually consistent and recall
    is the measured intersection, on testdata embeddings."""
    from gov_ec_pipeline_etl_spark.plans.registry import all_queries

    q = all_queries()[name].spark
    rows = q(spark, "/root/testdata/sf0.001").collect()
    assert {r.query_id for r in rows} == set(range(10))
    for r in rows:
        assert 1 <= r.n_exact <= 5
        assert 0 <= r.n_ann <= 5
        assert 0 <= r.n_hit <= min(r.n_exact, r.n_ann)
        assert r.recall_at_k == round(r.n_hit / r.n_exact, 3)


def test_source_token_drift_shape(spark):
    """u21: ≤3 rows per source, ranks contiguous from 1, ratios > 0,
    and the top token is genuinely over-represented (ratio ≥ 1 would
    be too strong on a tiny corpus, but the max per source must be
    ≥ the min per source by rank order)."""
    from gov_ec_pipeline_etl_spark.plans.registry import all_queries

    q = all_queries()["u21_source_token_drift"].spark
    rows = q(spark, "/root/testdata/sf0.001").collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert by_src
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        assert all(r.ratio > 0 for r in rs)
        ratios = [r.ratio for r in rs]
        assert ratios == sorted(ratios, reverse=True)


def test_pq_seed_vectors_reconstruct_exactly(spark):
    from gov_ec_pipeline_etl_spark.operators.similarity import pq_assignments

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(12)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = pq_assignments(emb, m=4, k_codes=3).collect()
    assert len(out) == 12 * 4  # one row per (vector, sub-space)
    for r in out:
        assert 0 <= r.code < 3
        assert r.sqerr >= -1e-12
        if r.vec_id < 3:  # seed vectors ARE codewords: exact reconstruction
            assert r.code == r.vec_id
            assert abs(r.sqerr) < 1e-9


def test_pq_distance_matches_numpy(spark):
    import numpy as np

    from gov_ec_pipeline_etl_spark.operators.similarity import pq_assignments

    rng = np.random.default_rng(11)
    mat = rng.normal(size=(10, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(10)],
        ["vec_id", "embedding"],
    )
    out = {
        (r.vec_id, r.sub): (r.code, r.sqerr)
        for r in pq_assignments(emb, m=4, k_codes=3).collect()
    }
    d = 2
    for i in range(10):
        for s in range(4):
            x = mat[i, s * d : s * d + d]
            dists = [
                float(np.sum((x - mat[c, s * d : s * d + d]) ** 2))
                for c in range(3)
            ]
            best = min(range(3), key=lambda c: (dists[c], c))
            code, sqerr = out[(i, s)]
            assert code == best
            assert abs(sqerr - dists[best]) < 1e-9


def test_kmeans_lloyd_separates_planted_clusters(spark):
    from gov_ec_pipeline_etl_spark.operators.similarity import kmeans_lloyd

    import random

    rng = random.Random(3)
    centers = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    # ids 0..2 are one seed point per blob (low-id seeding), the rest
    # interleave across blobs so convergence isn't an artifact of order
    rows = []
    for i in range(60):
        c = centers[i % 3]
        rows.append((i, [v + rng.uniform(-0.5, 0.5) for v in c]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r.vec_id: r.cent_id for r in kmeans_lloyd(emb, k=3, iters=3).collect()}
    assert set(got) == set(range(60))
    for i, cid in got.items():
        assert cid == i % 3  # every point lands with its blob's seed


def test_ivfpq_finds_cluster_neighbors(spark):
    import random

    from gov_ec_pipeline_etl_spark.operators.similarity import ivfpq_topk

    rng = random.Random(5)
    # two well-separated blobs in 16-dim; ids 0..7 seed centroids and
    # 0..3 seed codebooks, alternating blobs so both structures see both
    rows = []
    for i in range(40):
        base = 10.0 if i % 2 == 0 else -10.0
        rows.append(
            (i, [base + rng.uniform(-0.5, 0.5) for _ in range(16)])
        )
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = ivfpq_topk(
        emb, emb.where(F.col("vec_id") < 4),
        k_centroids=4, nprobe=1, m=4, k_codes=4, k=3,
    ).collect()
    assert len(out) == 4 * 3
    for r in out:
        # ADC over nprobe=1 inverted lists must stay inside the blob:
        # same parity = same blob by construction
        assert r.neighbor_id % 2 == r.query_id % 2
        assert r.neighbor_id != r.query_id


def test_ivfpq_index_lifecycle_cli(spark, tmp_path, capsys):
    """IVF-PQ index: build (codes-only centroid-partitioned layout) →
    stored probe matches the in-memory ivfpq_topk bit-for-bit → ingest
    (frozen centroids + codebooks) → compact → identical re-probe."""
    import json as _json

    import numpy as np

    from gov_ec_pipeline_etl_spark.cli import main
    from gov_ec_pipeline_etl_spark.operators.similarity import ivfpq_topk

    rng = np.random.default_rng(13)
    vecs = rng.standard_normal((60, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    emb_pq = str(tmp_path / "emb")
    emb.write.parquet(emb_pq)
    arr = [(900, [float(x) for x in rng.standard_normal(16)])]
    arr_pq = str(tmp_path / "arr")
    spark.createDataFrame(arr, ["vec_id", "embedding"]).write.parquet(arr_pq)
    idx = str(tmp_path / "ivfpq_idx")

    def run(*argv):
        assert main(list(argv)) == 0
        lines = capsys.readouterr().out.strip().splitlines()
        return sorted(lines[:-1]), lines[-1]

    run("index", "build", idx, emb_pq, "--kind", "ivfpq",
        "--k-centroids", "4", "--pq-m", "4", "--pq-codes", "4")
    stats = _json.loads(run("index", "stats", idx)[1])
    assert stats["rows"] == 60 and stats["kind"] == "ivfpq"

    # the raw vectors are NOT in the index: only codes
    from gov_ec_pipeline_etl_spark.sinks import snapshot

    files = spark.read.parquet(snapshot.current(idx + "/data"))
    assert set(files.columns) == {"vec_id", "codes", "cent_id"}

    # stored search == in-memory search (same seeding, same arithmetic)
    queries = emb.where(F.col("vec_id") < 5)
    mem = sorted(
        (r.query_id, r.neighbor_id, r.rnk)
        for r in ivfpq_topk(
            emb, queries, k_centroids=4, nprobe=2, m=4, k_codes=4, k=3
        ).collect()
    )
    probe0, _ = run(
        "index", "probe", idx, emb_pq, "--nprobe", "2", "--topk", "3",
        "--limit", "1000",
    )
    # CLI probe runs ALL 60 vectors as queries; filter to the 5
    got = sorted(
        (d["query_id"], d["neighbor_id"], d["rnk"])
        for d in map(_json.loads, probe0)
        if d["query_id"] < 5
    )
    assert got == mem

    run("index", "ingest", idx, arr_pq)
    assert _json.loads(run("index", "stats", idx)[1])["rows"] == 61
    probe1 = run("index", "probe", idx, arr_pq, "--topk", "3", "--limit", "1000")

    res = _json.loads(run("index", "compact", idx)[1])
    assert res["files_after"] <= res["files_before"]
    assert run("index", "probe", idx, arr_pq, "--topk", "3", "--limit", "1000") == probe1


# --- stratified split ----------------------------------------------------


def test_stratified_split_exact_proportions_and_stability(spark):
    """Exact per-stratum counts from the integer thresholds; assignments
    in a stratum are unchanged when OTHER strata grow (the property that
    makes the split safe to recompute after ingesting a new source)."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.operators.splits import stratified_split

    rows = [(i, f"s{i % 3}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = stratified_split(df, "doc_id", "source").collect()
    by = {}
    for r in out:
        by.setdefault((r["stratum"], r["split"]), 0)
        by[(r["stratum"], r["split"])] += 1
    for s in ("s0", "s1", "s2"):
        n = sum(v for (st, _), v in by.items() if st == s)
        n_train = sum(1 for r in range(n) if r * 1000 < n * 800)
        n_val = sum(
            1 for r in range(n) if n * 800 <= r * 1000 < n * 900
        )
        assert by[(s, "train")] == n_train
        assert by[(s, "val")] == n_val
        assert by[(s, "test")] == n - n_train - n_val
    # growing s0 must not move any s1/s2 assignment
    grown = df.unionByName(
        spark.createDataFrame(
            [(10_000 + i, "s0") for i in range(500)], ["doc_id", "source"]
        )
    )
    before = {
        (r["id"], r["stratum"]): r["split"]
        for r in out
        if r["stratum"] != "s0"
    }
    after = {
        (r["id"], r["stratum"]): r["split"]
        for r in stratified_split(grown, "doc_id", "source").collect()
        if r["stratum"] != "s0"
    }
    assert before == after


def test_stratified_split_bucketed_rank_equals_global_window(spark):
    """The hierarchical (bucket-offset + local row_number) rank must be
    bit-identical to the one-window-per-stratum definition the oracle
    runs."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from gov_ec_pipeline_etl_spark.functions.hashing import hash64
    from gov_ec_pipeline_etl_spark.operators.splits import (
        SPLIT_SEED,
        stratified_split,
    )

    rows = [(i * 7 + 3, f"s{i % 2}") for i in range(800)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = {
        (r["id"], r["stratum"]): r["split"]
        for r in stratified_split(df, "doc_id", "source").collect()
    }
    h = hash64(F.col("doc_id").cast("string"), SPLIT_SEED)
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    naive = (
        df.select("doc_id", "source", h.alias("h"))
        .select(
            "doc_id",
            "source",
            (F.row_number().over(w) - 1).alias("rnk"),
            F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
        )
        .select(
            "doc_id",
            "source",
            F.when(F.col("rnk") * 1000 < F.col("n") * 800, "train")
            .when(F.col("rnk") * 1000 < F.col("n") * 900, "val")
            .otherwise("test")
            .alias("split"),
        )
        .collect()
    )
    want = {(r["doc_id"], r["source"]): r["split"] for r in naive}
    assert got == want


def test_duplicated_span_mass_known_corpus(spark):
    """Hand-checkable corpus: doc 1 and 2 share an identical 5-token
    boilerplate prefix; doc 3 shares nothing. Spans are 3-token
    positional windows."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        duplicated_span_mass,
    )

    rows = [
        (1, "terms of service apply here alpha beta gamma"),
        (2, "terms of service apply here delta epsilon zeta"),
        (3, "unrelated content entirely distinct tokens everywhere now"),
        (4, "hi"),  # shorter than k: whole text is its single span
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: (r["n_spans"], r["dup_spans"], r["dup_mass"])
        for r in duplicated_span_mass(df, "doc_id", "text", k=3).collect()
    }
    # 8 tokens -> 6 positional 3-spans; docs 1/2 share the 3 spans fully
    # inside "terms of service apply here"
    assert got[1] == (6, 3, 0.5)
    assert got[2] == (6, 3, 0.5)
    assert got[3] == (5, 0, 0.0)  # 7 tokens -> 5 spans, none shared
    assert got[4] == (1, 0, 0.0)


def test_semantic_neardup_finds_planted_scaled_copies(spark):
    """Each planted scaled copy must pair with its source at cos ~ 1
    (scaling preserves the unit vector); distinct basis vectors never
    pair (orthogonal)."""
    from gov_ec_pipeline_etl_spark.operators.similarity import (
        semantic_neardup_pairs,
    )

    dim = 8
    base = []
    for i in range(6):
        v = [0.0] * dim
        v[i % dim] = float(i + 1)  # axis-aligned, mutually orthogonal-ish
        base.append((i, v))
    planted = [(i + 100, [x * 2.5 for x in v]) for i, v in base]
    df = spark.createDataFrame(
        base + planted, ["vec_id", "embedding"]
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    pairs = semantic_neardup_pairs(
        df, k=2, iters=2, threshold=0.99
    ).collect()
    got = {(p.id_a, p.id_b) for p in pairs}
    assert got == {(i, i + 100) for i in range(6)}
    assert all(p.cos_r >= 0.999999 for p in pairs)


def test_bigram_crossentropy_hand_computed(spark):
    """Two-doc corpus small enough to compute the smoothed model by
    hand; repetitive doc scores lower xent than the varied one."""
    import math

    from gov_ec_pipeline_etl_spark.operators.lm import bigram_crossentropy

    rows = [
        (1, "a a a a"),          # bigrams: (a,a) x3
        (2, "a b c"),            # bigrams: (a,b), (b,c)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: (r["n_bigrams"], r["xent"])
        for r in bigram_crossentropy(df, "doc_id", "text").collect()
    }
    # V = 3 (a, b, c); context counts: c1(a)=4, c1(b)=1
    # c2: (a,a)=3, (a,b)=1, (b,c)=1
    p_aa = (3 + 1) / (4 + 3)
    p_ab = (1 + 1) / (4 + 3)
    p_bc = (1 + 1) / (1 + 3)
    xent1 = round(-math.log(p_aa), 6)
    xent2 = round(-(math.log(p_ab) + math.log(p_bc)) / 2, 6)
    assert got[1] == (3, xent1)
    assert got[2] == (2, xent2)
    assert got[1][1] < got[2][1]


def test_token_budget_take_matches_global_window(spark):
    """The hierarchical (bucket-offset + within-bucket running sum)
    exclusive prefix sum must be bit-identical to the one-window-per-
    stratum definition the oracle runs, and kept token mass must land
    just over the budget (greedy take crosses the line by < one doc)."""
    from pyspark.sql import Window

    from gov_ec_pipeline_etl_spark.functions.hashing import hash64
    from gov_ec_pipeline_etl_spark.operators.sampling import (
        BUDGET_SEED,
        token_budget_take,
    )

    rows = [(i * 3 + 1, f"s{i % 3}", 10 + (i * 7) % 90) for i in range(600)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])
    got = {
        r["id"]: (r["stratum"], r["toks"], r["cum_before"])
        for r in token_budget_take(
            df, "doc_id", "source", "n_tokens", budget_ppt=600
        ).collect()
    }
    h = hash64(F.col("doc_id").cast("string"), BUDGET_SEED)
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = (
        df.select("doc_id", "source", "n_tokens", h.alias("h"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cb"),
            F.sum("n_tokens")
            .over(Window.partitionBy("source"))
            .alias("total"),
        )
        .where(F.col("cb") * 1000 < F.col("total") * 600)
        .collect()
    )
    want = {r["doc_id"]: (r["source"], r["n_tokens"], r["cb"]) for r in naive}
    assert got == want
    # kept mass per stratum: >= budget crossed at most by the last doc
    totals = {f"s{i}": sum(t for _, s, t in rows if s == f"s{i}") for i in range(3)}
    for s, total in totals.items():
        kept = sum(t for st, t, _ in got.values() if st == s)
        assert kept * 1000 >= total * 600  # budget reached
        assert (kept - 100) * 1000 < total * 600  # by less than max doc


def test_decontaminate_spans_flags_planted_overlap(spark):
    """A training doc embedding a full eval sentence must show the
    overlap mass; an unrelated doc must show zero."""
    from gov_ec_pipeline_etl_spark.plans.registry import all_queries  # noqa: F401
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        positional_shingle_rows,
        shingle_rows,
    )

    eval_text = "the capital of france is paris and it is large"
    rows = [
        (0, eval_text),  # doc_id % 50 == 0 -> eval set
        (1, "intro words then " + eval_text + " trailing tail here"),
        (2, "nothing shared with the held out benchmark at all okay"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    ev = (
        shingle_rows(docs.where(F.col("doc_id") % 50 == 0), "doc_id", "text", 5)
        .select("s").distinct().withColumn("hit", F.lit(1))
    )
    spans = positional_shingle_rows(
        docs.where(F.col("doc_id") % 50 != 0), "doc_id", "text", 5
    )
    got = {
        r["id"]: (r["n_spans"], r["hit_spans"])
        for r in spans.join(F.broadcast(ev), "s", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hit_spans"),
        )
        .collect()
    }
    # doc 1: 16 tokens -> 12 spans; the 6 eval 5-spans all occur inside
    assert got[1][0] == 12 and got[1][1] == 6
    assert got[2][1] == 0


def test_curation_funnel_stage_precedence(spark, tmp_path, monkeypatch):
    """Constructed corpus hitting every funnel stage, checked on the
    registered query itself via a toy documents table: eval carve-out
    beats dedup, exact dup keeps the lowest id, near-dup drops the
    higher id, survivors get exact-proportion splits."""
    import pyspark.sql.functions as F  # noqa: F811

    from gov_ec_pipeline_etl_spark.plans.training_queries import (
        u35_curation_funnel,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base + " lambda", "s0"),              # eval (0 % 50 == 0)
        (1, base + " lambda", "s0"),              # exact dup of 0? no: 0 is eval but fingerprint min is 0 -> 1 is exact_dup
        (2, "tiny", "s0"),                        # short (<5 tokens)
        (3, base + " mu nu xi", "s1"),            # near-dups with 4
        (4, base + " mu nu xi omicron", "s1"),    # higher id -> near_dup
    ] + [
        (5 + i, f"unique document number {i} with words w{i} x{i} y{i} z{i} q{i}", "s1")
        for i in range(10)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).coalesce(1).write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    out = {r["id"]: r["disposition"] for r in u35_curation_funnel(spark, sf_dir).collect()}
    n = len(rows)
    assert out[0] == "eval"
    assert out[2] == "short"
    assert out[1] == "exact_dup"  # fp identical to eval doc 0 -> min_id=0
    assert out[4] == "near_dup"
    assert out[1000003] == "near_dup"  # mutated copy of 3 pairs with 3
    # survivors (3 + uniques + their mutated copies minus near-dups) all split
    assert all(
        v in ("train", "val", "test", "eval", "short", "exact_dup", "near_dup", "contaminated")
        for v in out.values()
    )
    assert len(out) == 2 * n


def test_curate_cli_end_to_end(spark, tmp_path, capsys):
    """`cli curate SF_DIR OUT` writes the disposition parquet and prints
    a summary whose counts reconcile with the table."""
    import json as _json

    import pyspark.sql.functions as F  # noqa: F811

    from gov_ec_pipeline_etl_spark.cli import main as cli_main

    rows = [
        (i, f"document number {i} has tokens t{i} u{i} v{i} w{i} x{i}", f"s{i % 2}")
        for i in range(12)
    ]
    sf_dir = str(tmp_path / "corpus")
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).coalesce(1).write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    out = str(tmp_path / "dispositions")
    assert cli_main(["curate", sf_dir, out]) == 0
    summary = _json.loads(capsys.readouterr().out)
    table = spark.read.parquet(out)
    assert summary["total"] == table.count() == 24  # corpus + mutated
    got = {
        r["disposition"]: r["count"]
        for r in table.groupBy("disposition").count().collect()
    }
    assert got == summary["dispositions"]
    assert summary["kept"] == sum(
        v for k, v in got.items() if k in ("train", "val", "test")
    )


def test_gopher_repetition_hand_computed(spark):
    """Hand-computed Gopher fractions on a 4-token degenerate doc and a
    fully-distinct doc; a 1-token doc has no n-grams and is absent."""
    from gov_ec_pipeline_etl_spark.operators.quality import gopher_repetition

    rows = [
        (1, "a a a a"),
        (2, "x y z w v u"),
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["id"]: r.asDict() for r in gopher_repetition(df, "doc_id", "text").collect()}
    # doc 1: norm "a a a a" (nc=7). "a a" x3 -> 3*3/7; "a a a" x2 -> 2*5/7;
    # "a a a a" x1 -> 7/7; no 5-grams (4 tokens) -> dup5 0.
    assert got[1]["top2_frac"] == round(9 / 7, 6)
    assert got[1]["top3_frac"] == round(10 / 7, 6)
    assert got[1]["top4_frac"] == 1.0
    assert got[1]["dup5_frac"] == 0.0
    assert got[1]["flagged"] == 1
    # doc 2: nc=11, every n-gram unique: top2 3/11, top3 5/11, top4 7/11,
    # 5-grams occur once each -> dup5 0. Short docs inflate the top-n
    # fractions (the known Gopher caveat) -> flagged here.
    assert got[2]["top2_frac"] == round(3 / 11, 6)
    assert got[2]["top3_frac"] == round(5 / 11, 6)
    assert got[2]["top4_frac"] == round(7 / 11, 6)
    assert got[2]["dup5_frac"] == 0.0
    assert got[2]["flagged"] == 1
    assert 3 not in got


def test_dsir_weights_sign_tracks_target_vocab(spark):
    """Docs written in the target sample's vocabulary get positive
    log-ratios (resample toward target); raw-vocabulary docs negative."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.operators.quality import dsir_logweights

    rows = (
        [(i, "aa bb aa bb", "t") for i in range(10)]
        + [(100 + i, "cc dd cc dd", "r") for i in range(10)]
        + [(200, "aa bb aa bb aa", "r"), (201, "cc dd cc", "t")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = dsir_logweights(
        df, "doc_id", "text", target=F.col("source") == "t"
    )
    got = {r["id"]: (r["log_ratio"], r["selected"]) for r in out.collect()}
    assert got[200][0] > 0 and got[200][1] == 1  # target-vocab doc
    assert got[201][0] < 0 and got[201][1] == 0  # raw-vocab doc
    assert all(got[i][1] == 1 for i in range(10))
    assert all(got[100 + i][1] == 0 for i in range(10))


def test_nb_classifier_separates_disjoint_vocab(spark):
    """Classes with disjoint vocabularies classify perfectly: the
    confusion matrix is diagonal."""
    from gov_ec_pipeline_etl_spark.operators.quality import nb_source_confusion

    rows = [(i, "apple banana cherry apple", "fruit") for i in range(8)] + [
        (100 + i, "iron copper zinc iron", "metal") for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r["label"], r["predicted"]): r["n_docs"]
        for r in nb_source_confusion(df, "doc_id", "text", "source").collect()
    }
    assert got == {("fruit", "fruit"): 8, ("metal", "metal"): 8}


def test_cluster_balanced_sample_caps_large_clusters(spark):
    """Cap 3: a 5-member cluster keeps exactly 3 (lowest hash ranks), a
    2-member cluster survives whole; ranks are 1..size per cluster."""
    from gov_ec_pipeline_etl_spark.operators.quality import (
        cluster_balanced_sample,
    )

    rows = [(i, 0) for i in range(5)] + [(10, 1), (11, 1)]
    df = spark.createDataFrame(rows, ["vec_id", "cent_id"])
    out = cluster_balanced_sample(df, cap=3).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cent_id"], []).append(r)
    assert sorted(r["rnk"] for r in by_cluster[0]) == [1, 2, 3, 4, 5]
    assert sum(r["kept"] for r in by_cluster[0]) == 3
    assert all(r["cluster_size"] == 5 for r in by_cluster[0])
    assert sorted(r["rnk"] for r in by_cluster[1]) == [1, 2]
    assert sum(r["kept"] for r in by_cluster[1]) == 2
    # kept iff rnk <= cap, per row
    assert all((r["rnk"] <= 3) == bool(r["kept"]) for r in out)


def test_bpe_merges_hand_computed(spark):
    """Hand-replayable corpus: 'low low lower' x2 + 'aaa'. Char pair
    counts: l+o 6, o+w 6, w+e 2, e+r 2, a+a 2 (overlap run 'aaa' counts
    its TWO adjacent pairs in the type table but merging is greedy
    left-to-right, so merge a+a applied to 'aaa' yields [aa, a]).
    Tie l+o vs o+w at 6 breaks lexicographically -> l+o first."""
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.bpe import apply_bpe, bpe_merges

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "low low lower"), (3, "aaa")],
        ["doc_id", "text"],
    )
    with released(bpe_merges(df, steps=4)) as out:
        merges = [tuple(r) for r in out.orderBy("step").collect()]
    # step 1: (l,o) 6 wins tie vs (o,w) 6; step 2: (lo,w) 6;
    # step 3: (low,e) 2 vs (e,r) 2 vs (a,a) 2 -> lexicographic: (a,a);
    # step 4: (low,e) 2 vs (e,r) 2 -> (e,r).
    assert merges == [
        (1, "l", "o", 6),
        (2, "lo", "w", 6),
        (3, "a", "a", 2),
        (4, "e", "r", 2),
    ]
    seg = spark.createDataFrame(
        [("lower",), ("aaa",), ("low",)], ["w"]
    ).select(
        apply_bpe("w", [(m[1], m[2]) for m in merges]).alias("syms")
    )
    got = [r["syms"] for r in seg.collect()]
    # greedy left-to-right: aaa -> (aa)(a), lower -> (low)(er)
    assert got == [["low", "er"], ["aa", "a"], ["low"]]


def test_bpe_vocab_restriction_and_no_pairs(spark):
    """Words outside [a-z0-9]+ are excluded by contract; a corpus whose
    words are all single-char yields pair counts only from multi-char
    types."""
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.bpe import bpe_merges

    df = spark.createDataFrame(
        [(1, "a b c d's e-mail ab")], ["doc_id", "text"]
    )
    with released(bpe_merges(df, steps=1)) as out:
        rows = [tuple(r) for r in out.collect()]
    # only 'ab' survives the [a-z0-9]+ filter with >=2 symbols
    assert rows == [(1, "a", "b", 1)]


def test_signal_corr_matches_numpy(spark, tmp_path):
    """u42's moment-form Pearson equals numpy.corrcoef on the same
    per-doc signals (6dp)."""
    import numpy as np

    from gov_ec_pipeline_etl_spark.plans.registry import all_queries

    docs = [
        (i, " ".join(["tok"] * (i + 1) + ["a"] * (i % 3) + ["the"]))
        for i in range(30)
    ]
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(
        str(sf_dir / "documents.parquet")
    )
    q = all_queries()["u42_signal_corr"]
    got = {
        (r["sig_a"], r["sig_b"]): r["pearson_r"]
        for r in q.spark(spark, str(sf_dir)).collect()
    }
    sigs = []
    for _i, text in docs:
        toks = text.split(" ")
        n = len(toks)
        sigs.append(
            (
                sum(map(len, toks)) / n,
                len(set(toks)) / n,
                float(n),
                sum(t in ("a", "the") for t in toks) / n,
            )
        )
    m = np.corrcoef(np.array(sigs).T)
    names = ["avg_wlen", "distinct_ratio", "n_tok", "stop_share"]
    for i in range(4):
        for j in range(i + 1, 4):
            assert abs(got[(names[i], names[j])] - m[i, j]) < 1e-6


def test_bpe_segmented_vocab_hand_computed(spark):
    """After the 4 hand-verified merges (l+o, lo+w, a+a, e+r), 'low'
    is 1 symbol, 'lower' is 2 ('low','er'), 'aaa' is 2 ('aa','a')."""
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.bpe import bpe_segmented_vocab

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "low low lower"), (3, "aaa")],
        ["doc_id", "text"],
    )
    with released(bpe_segmented_vocab(df, steps=4)) as seg:
        got = {r["w"]: r["n_syms"] for r in seg.collect()}
    assert got == {"low": 1, "lower": 2, "aaa": 2}


def test_bpe_property_matches_python_reference(spark):
    """Property: on random small corpora the distributed merge learner
    equals a sequential pure-Python BPE (same count-DESC/lexicographic
    tie-break, same greedy left-to-right substitution). Also pins the
    exhaustion edge: once no pairs remain, remaining steps emit nothing
    (engine and oracle collapse identically)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.bpe import bpe_merges

    def ref_bpe(words, steps):
        vocab = Counter(tuple(w) for w in words)
        merges = []
        for _ in range(steps):
            pc = Counter()
            for syms, c in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] += c
            if not pc:
                break
            m = max(pc.values())
            best = min(p for p, c in pc.items() if c == m)
            merges.append((best[0], best[1], m))
            nv = Counter()
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                nv[tuple(out)] += c
            vocab = nv
        return merges

    word = st.text(alphabet="abc", min_size=1, max_size=5)
    corpus = st.lists(word, min_size=1, max_size=12)

    @given(corpus=corpus, steps=st.integers(min_value=1, max_value=3))
    @settings(max_examples=12, deadline=None)
    def check(corpus, steps):
        df = spark.createDataFrame([(1, " ".join(corpus))], ["doc_id", "text"])
        with released(bpe_merges(df, steps=steps)) as out:
            got = [
                (r["merge_left"], r["merge_right"], r["pair_count"])
                for r in out.orderBy("step").collect()
            ]
        assert got == ref_bpe(corpus, steps)

    check()


def test_bpe_cli_lifecycle(spark, tmp_path, capsys):
    """learn writes the ordered merge table; apply segments a corpus
    with it and reports the hand-computable fertility: token stream is
    low x4, lower x2, aaa x1 with 1/2/2 symbols -> 10/7."""
    import json as _json

    from gov_ec_pipeline_etl_spark.cli import main

    docs = tmp_path / "docs.parquet"
    spark.createDataFrame(
        [(1, "low low lower"), (2, "low low lower"), (3, "aaa")],
        ["doc_id", "text"],
    ).write.parquet(str(docs))
    merges = tmp_path / "merges.parquet"
    assert main(["bpe", "learn", str(docs), str(merges), "--steps", "4"]) == 0
    learned = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [
        (m["step"], m["merge_left"], m["merge_right"]) for m in learned["merges"]
    ] == [(1, "l", "o"), (2, "lo", "w"), (3, "a", "a"), (4, "e", "r")]
    assert main(["bpe", "apply", str(docs), str(merges)]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    stats = _json.loads(lines[-1])
    assert stats == {"fertility": round(10 / 7, 6), "word_types": 3}
    top = _json.loads(lines[0])
    assert top["w"] == "low" and top["syms"] == ["low"]


def test_xent_terciles_exact_thirds_and_tie_break(spark):
    """9 docs = 3 texts x 3 copies (each group shares one xent): exact
    3/3/3 buckets, and the bucketed decomposition must equal the
    Python global-sort-by-(xent, id) definition, which forces the
    id tie-break to split an equal-xent group across buckets."""
    from gov_ec_pipeline_etl_spark.operators.lm import xent_terciles

    texts = ["a a a a", "b c d e b c", "f g h i j k l f"]
    rows = [(10 * t + c, texts[t]) for t in range(3) for c in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["id"]: (r["xent"], r["bucket"]) for r in
           xent_terciles(df, "doc_id", "text").collect()}
    assert len(got) == 9
    order = sorted(got, key=lambda i: (got[i][0], i))
    expect = {i: "head" if r * 3 < 9 else "middle" if r * 3 < 18 else "tail"
              for r, i in enumerate(order)}
    assert {i: b for i, (_x, b) in got.items()} == expect
    from collections import Counter

    assert Counter(b for _x, b in got.values()) == Counter(
        {"head": 3, "middle": 3, "tail": 3}
    )


def test_bpe_exhausted_steps_keeps_vocab(spark):
    """Code-review r5: once every word type is one symbol, further merge
    steps find an EMPTY argmax — the substitution must be a no-op, not
    a crossJoin that annihilates the vocabulary and silently returns an
    empty segmentation map."""
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.bpe import (
        bpe_merges,
        bpe_segmented_vocab,
    )

    df = spark.createDataFrame([(1, "ab ab ab cd")], ["doc_id", "text"])
    # 'ab' and 'cd' are fully merged after 2 steps; ask for 10
    with released(bpe_segmented_vocab(df, steps=10)) as seg:
        rows = {r.w: r.n_syms for r in seg.collect()}
    assert rows == {"ab": 1, "cd": 1}
    with released(bpe_merges(df, steps=10)) as merges:
        assert merges.count() == 2  # emits only the learnable merges


def test_minhash_probe_respects_portable_flag(spark):
    """Code-review r5: probing a fast-hash (portable=False) sketch with
    the default portable hash silently returns zero matches — the CLI
    now passes the stored meta flag through incremental_neardup_against;
    this pins the operator-level contract the fix relies on."""
    from gov_ec_pipeline_etl_spark.caching import unpersist_inputs
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        incremental_neardup_against,
        minhash_sketch,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma word{i} delta epsilon zeta") for i in range(20)],
        ["doc_id", "text"],
    )
    arrivals = spark.createDataFrame(
        [(100, "alpha beta gamma word7 delta epsilon zeta")],
        ["doc_id", "text"],
    )
    stored = minhash_sketch(corpus, "doc_id", "text", portable=False)
    matched = incremental_neardup_against(
        arrivals, stored, threshold=0.5, portable=False
    )
    n_matched = matched.count()
    unpersist_inputs(matched)
    mismatched = incremental_neardup_against(
        arrivals, stored, threshold=0.5, portable=True
    )
    n_mismatched = mismatched.count()
    unpersist_inputs(mismatched)
    stored.unpersist()
    assert n_matched >= 1  # the planted dup of doc 7
    assert n_mismatched == 0  # wrong hash mode finds nothing


def test_substring_runs_planted_lengths(spark):
    """u62's diagonal-island extension recovers EXACT planted run
    lengths: a 25-token block shared mid-document must report
    max_run_tokens == 25 regardless of where it sits in either doc,
    and two disjoint shared blocks must come back as two runs."""
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        substring_run_pairs,
    )

    blk = " ".join(f"s{i}" for i in range(25))        # 25-token clone
    blk2 = " ".join(f"q{i}" for i in range(21))       # second clone
    fill = lambda p, n: " ".join(f"{p}{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            (1, f"{fill('a', 7)} {blk} {fill('b', 9)} {blk2}"),
            (2, f"{fill('c', 13)} {blk} {fill('d', 4)} {blk2} {fill('e', 3)}"),
            (3, fill("z", 60)),                       # no overlap
        ],
        "doc_id int, text string",
    )
    with released(
        substring_run_pairs(docs, "doc_id", "text", k=5, min_len=20)
    ) as out:
        rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.n_runs == 2
    assert r.max_run_tokens == 25
    assert r.dup_tokens == 25 + 21

    # a shared run SHORTER than min_len reports nothing
    short = " ".join(f"t{i}" for i in range(12))
    docs2 = spark.createDataFrame(
        [(1, f"{fill('a', 10)} {short}"), (2, f"{short} {fill('b', 10)}")],
        "doc_id int, text string",
    )
    with released(
        substring_run_pairs(docs2, "doc_id", "text", k=5, min_len=20)
    ) as out2:
        assert out2.count() == 0


def test_substring_dedup_cut_keep_earliest_and_union(spark):
    """u63's cut removes from the LATER doc only, and overlapping
    removal intervals union before counting. Doc 1 is the earliest
    copy (keeps everything); doc 2 shares one 30-token block with doc
    1 at two overlapping alignments (same removal interval, counted
    once); doc 3 shares the block with BOTH — still one interval."""
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        substring_dedup_cut,
    )

    blk = " ".join(f"s{i}" for i in range(30))
    fill = lambda p, n: " ".join(f"{p}{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            (1, f"{blk} {fill('a', 10)}"),
            (2, f"{fill('b', 5)} {blk} {fill('c', 5)}"),
            (3, f"{fill('d', 20)} {blk}"),
        ],
        "doc_id int, text string",
    )
    with released(
        substring_dedup_cut(docs, "doc_id", "text", k=5, min_len=20)
    ) as out:
        rows = {r.id: r for r in out.collect()}
    assert rows[1].removed_tokens == 0 and rows[1].kept_ratio == 1.0
    assert rows[2].n_tokens == 40 and rows[2].removed_tokens == 30
    assert rows[2].kept_tokens == 10
    assert rows[3].n_tokens == 50 and rows[3].removed_tokens == 30
    # exactly one corpus-wide copy of the block survives (doc 1's)
    total_kept_blocks = sum(
        1 for r in rows.values() if r.removed_tokens == 0
    )
    assert total_kept_blocks == 1


def test_dedup_cli_runs_and_cut(spark, tmp_path, capsys):
    """The dedup CLI drives both substring-dedup forms end-to-end."""
    import json as _json

    from gov_ec_pipeline_etl_spark.cli import main as cli_main

    blk = " ".join(f"s{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, f"{blk} aa bb"), (2, f"xx yy {blk}"), (3, "zz " * 40)],
        "doc_id int, text string",
    )
    dp = str(tmp_path / "docs")
    docs.write.parquet(dp)
    ro, co = str(tmp_path / "runs"), str(tmp_path / "cut")
    assert cli_main(["dedup", "runs", dp, ro]) == 0
    runs = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert runs["n_runs"] >= 1 and runs["max_run_tokens"] == 30
    assert cli_main(["dedup", "cut", dp, co]) == 0
    cut = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cut["n_docs"] == 3 and cut["removed_tokens"] == 30


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_substring_runs_match_bruteforce(spark, seed):
    """Randomized adversarial check of u62's diagonal-island algebra:
    tiny vocab forces dense anchor collisions, and every maximal run
    (start_a, start_b, length) must equal a brute-force O(n^2)
    per-pair reference computed in plain Python."""
    import random

    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        substring_runs,
    )

    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d"]
    k, min_len = 2, 3
    toks = {
        did: [rng.choice(vocab) for _ in range(rng.randint(5, 30))]
        for did in range(1, 7)
    }
    docs = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in toks.items()], "doc_id int, text string"
    )

    expect = set()
    for da in toks:
        for db in toks:
            if da >= db:
                continue
            a, b = toks[da], toks[db]
            matches = {
                (i, j)
                for i in range(len(a) - k + 1)
                for j in range(len(b) - k + 1)
                if a[i : i + k] == b[j : j + k]
            }
            by_diag = {}
            for i, j in matches:
                by_diag.setdefault(i - j, []).append(i)
            for d, pos in by_diag.items():
                pos.sort()
                run = [pos[0]]
                for i in pos[1:] + [None]:
                    if i is not None and i == run[-1] + 1:
                        run.append(i)
                        continue
                    ln = len(run) + k - 1
                    if ln >= min_len:
                        expect.add((da, db, run[0], run[0] - d, ln))
                    if i is not None:
                        run = [i]
    with released(
        substring_runs(
            docs, "doc_id", "text", k=k, min_len=min_len, max_occ=10_000
        )
    ) as out:
        got = {
            (r.id_a, r.id_b, r.start_a, r.start_b, r.run_tokens)
            for r in out.collect()
        }
    assert got == expect


def test_sequence_packing_matches_global_window(spark):
    """The hierarchical cumsum behind u64 is bit-equal to the naive
    single-window definition regardless of bucket count, and the bin
    algebra handles documents that span multiple bins."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from gov_ec_pipeline_etl_spark.operators.packing import pack_sequences

    rng = random.Random(5)
    rows = [
        (i, " ".join("w" for _ in range(rng.randint(1, 120))))
        for i in range(1, 301)
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    for nb in (1, 3, 32):
        got = {
            (r.id, r.n_tokens, r.first_bin, r.last_bin, r.bins_spanned)
            for r in pack_sequences(
                docs, "doc_id", "text", capacity=50, n_buckets=nb
            ).collect()
        }
        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        naive = (
            docs.select(
                F.col("doc_id").alias("id"),
                F.size(F.split("text", " ")).cast("long").alias("n"),
            )
            .withColumn("cum", F.sum("n").over(w))
            .selectExpr(
                "id", "n", "(cum - n) div 50 fb", "(cum - 1) div 50 lb"
            )
        )
        expect = {
            (r.id, r.n, r.fb, r.lb, r.lb - r.fb + 1) for r in naive.collect()
        }
        assert got == expect, f"n_buckets={nb}"
    # a 120-token doc at capacity 50 must span 3+ bins somewhere
    assert any(t[4] >= 3 for t in expect)


def test_substring_runs_k1_and_cli_validation(spark, tmp_path, capsys):
    """k=1 (single-token anchors) is a legal degenerate configuration
    (found crashing in review: empty lead list), and the CLI rejects
    k/min_len/max_occ values the operator can't honor."""
    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.cli import main as cli_main
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        substring_runs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y a b c")], "doc_id int, text string"
    )
    with released(
        substring_runs(docs, "doc_id", "text", k=1, min_len=3, max_occ=100)
    ) as out:
        rows = out.collect()
    assert [(r.start_a, r.start_b, r.run_tokens) for r in rows] == [(0, 2, 3)]
    dp = str(tmp_path / "docs")
    docs.write.parquet(dp)
    assert cli_main(["dedup", "runs", dp, str(tmp_path / "o"), "--k", "0"]) == 2
    assert "must be >= 1" in capsys.readouterr().err
