"""Mining-tier queries (u54–u56, x59–x60): HLL union-merge, interval
coalescing, incremental aggregate maintenance, market-basket
co-occurrence, and triangle counting on a thresholded backbone graph.

Five capabilities a warehouse-scale engine serves that the earlier
tiers don't cover:

- **u54** completes the mergeable-summaries trio (u51 Count-Min,
  u49/q21b quantile/distinct bounds) with Apache DataSketches HLL via
  Spark's native ``hll_sketch_agg``/``hll_union_agg`` — the algebra
  that lets 1000 executors sketch independently and merge centrally.
- **u55** is interval gaps-and-islands (coalesce overlapping coverage
  windows) — the interval-semantics complement of x55's point-gap
  sessionization.
- **u56** is additive incremental view maintenance: agg(base) ⊕
  agg(delta) == agg(base ∪ delta), asserted integer-exactly — the
  identity that turns a 100 TB nightly recompute into a delta-sized
  job (keyed upserts need the sinks/upsert MERGE path; this covers
  the append-only contract).
- **x59** is market-basket pair mining (support/confidence/lift) with
  an explicit, oracle-replicated basket-size guard.
- **x60** counts triangles on the top-weight co-supply backbone —
  graph-analytics beyond x58's PageRank, with every densification
  risk bounded by a deterministic cut that the oracle replays.

All five are plain DataFrame plans with full DuckDB oracles; sketch
estimates follow the house rule that only CLAIMED BOUNDS are oracled
(estimates themselves are engine-specific).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gov_ec_pipeline_etl_spark.caching import stage
from gov_ec_pipeline_etl_spark.plans.registry import register
from gov_ec_pipeline_etl_spark.plans.util import T

# ---------------------------------------------------------------------------
# u54: HLL sketch union-merge bound (DataSketches HLL, lgConfigK=12)
# ---------------------------------------------------------------------------

_HLL_ORACLE = """
    WITH per AS (
      SELECT event_type AS scope,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events
    )
    SELECT scope, exact_users, TRUE AS within_5pct FROM per
    UNION ALL SELECT 'ALL_DIRECT', exact_users, TRUE FROM tot
    UNION ALL SELECT 'ALL_MERGED', exact_users, TRUE FROM tot
"""


@register(
    "u54_hll_merge",
    oracle=_HLL_ORACLE,
    doc="HyperLogLog mergeable-summaries bound: per-event-type "
    "DataSketches HLL sketches (lgConfigK=12, ~1.6% RSE) built in the "
    "SAME single rollup pass as the exact distinct counts, then (a) "
    "each per-type estimate, (b) the direct global estimate, and (c) "
    "the hll_union_agg merge of the per-type sketches are all asserted "
    "within 5% of the exact answer. (c) is the claim that matters at "
    "100 TB: executors sketch their partitions independently and the "
    "union is still a valid estimator — the same algebra u51 proves "
    "integer-exactly for Count-Min. Estimates are engine-specific, so "
    "per q21b/u49 house rules the oracle checks exact counts + claimed "
    "bounds. Scale shape: ONE corpus scan, ONE rollup shuffle; "
    "everything after operates on n_event_types+1 rows.",
    bench=True,
    tags=("sketch", "hll", "mergeable", "llm-pipeline"),
)
def u54_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("event_type", "user_id")
    # rollup gives per-type AND global rows from one scan + one shuffle;
    # grouping() distinguishes the total row from a (non-occurring)
    # null event_type. Three consumers read the ≤k+1-row result, and a
    # plain persist() is NOT enough here: union analysis re-IDs the
    # rollup's virtual grouping attributes (Expand/spark_grouping_id),
    # which breaks the cache manager's sameResult match for every
    # branch after the first — each would silently re-scan the corpus
    # (plain groupBy caches match fine; it is specific to grouping
    # plans). localCheckpoint severs the lineage, so all branches scan
    # the materialized k+1-row RDD regardless of plan matching.
    per = ev.rollup("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
        F.grouping("event_type").alias("g"),
    ).localCheckpoint()
    est = F.expr("hll_sketch_estimate(sk)")
    ok = (
        F.abs(est - F.col("exact_users"))
        <= 0.05 * F.col("exact_users")
    ).alias("within_5pct")

    types = per.where("g = 0").select(
        F.col("event_type").alias("scope"), "exact_users", ok
    )
    direct = per.where("g = 1").select(
        F.lit("ALL_DIRECT").alias("scope"), "exact_users", ok
    )
    # merge the per-type sketches; exact global rides in from the
    # 1-row direct frame (both sides are single rows — broadcast)
    merged_sk = per.where("g = 0").agg(
        F.expr("hll_union_agg(sk, false)").alias("sk")
    )
    merged = merged_sk.join(
        F.broadcast(per.where("g = 1").select("exact_users"))
    ).select(F.lit("ALL_MERGED").alias("scope"), "exact_users", ok)
    return types.unionByName(direct).unionByName(merged)


# ---------------------------------------------------------------------------
# u55: interval gaps-and-islands (coalesce overlapping coverage windows)
# ---------------------------------------------------------------------------

_COVER_US = 30 * 86_400_000_000  # each order covers 30 days

_ISLANDS_ORACLE = f"""
    WITH iv AS (
      SELECT o_custkey, o_orderkey AS tb, epoch_us(o_orderdate) AS s,
             epoch_us(o_orderdate) + {_COVER_US} AS e
      FROM orders
    ),
    m AS (
      SELECT o_custkey, tb, s, e,
             MAX(e) OVER (
               PARTITION BY o_custkey ORDER BY s, e, tb
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_max_e
      FROM iv
    ),
    flagged AS (
      SELECT o_custkey, tb, s, e,
             CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                  THEN 1 ELSE 0 END AS brk
      FROM m
    ),
    isl AS (
      SELECT o_custkey, s, e,
             SUM(brk) OVER (
               PARTITION BY o_custkey ORDER BY s, e, tb
               ROWS UNBOUNDED PRECEDING
             ) AS island
      FROM flagged
    )
    SELECT o_custkey, CAST(island AS BIGINT) AS island,
           MIN(s) AS island_start_us, MAX(e) AS island_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM isl GROUP BY o_custkey, island
"""


@register(
    "u55_interval_islands",
    oracle=_ISLANDS_ORACLE,
    doc="Interval gaps-and-islands: each order opens a 30-day coverage "
    "window; overlapping-or-touching windows per customer coalesce "
    "into islands (an island breaks only when a window starts STRICTLY "
    "after the running max end of all earlier windows — the running "
    "max, not lag(e), is what makes containment-nested intervals "
    "correct). The interval-semantics complement of x55's point-gap "
    "sessionization: coverage/outage coalescing, contract-period "
    "merging, retention-window math. Scale shape: both windows and the "
    "island aggregate share the o_custkey partitioning — ONE shuffle; "
    "frames are per-customer order-count bounded. The window order "
    "carries o_orderkey as a TIEBREAK: (s, e) alone is not a total "
    "order when a customer orders twice in one day, and the brk/"
    "running-sum pair is only consistent if BOTH stacked windows see "
    "ties in one order — DuckDB's parallel window evaluation orders "
    "tied peers independently per window (root-caused from a "
    "nondeterministic sf1 full-gate mismatch; Spark shares one sort "
    "but has the same formal hazard).",
    tags=("window", "intervals", "analytics"),
)
def u55_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("tb"),
        F.unix_micros("o_orderdate").alias("s"),
        (F.unix_micros("o_orderdate") + F.lit(_COVER_US)).alias("e"),
    )
    return coalesce_intervals(iv, tiebreak="tb").select(
        F.col("key").alias("o_custkey"),
        "island",
        "island_start_us",
        "island_end_us",
        F.col("n").alias("n_orders"),
    )


def coalesce_intervals(iv: DataFrame, tiebreak: str | None = None) -> DataFrame:
    """Merge overlapping-or-touching ``(key, s, e)`` intervals into
    islands: ``(key, island, island_start_us, island_end_us, n)``.

    An island breaks only when an interval starts STRICTLY after the
    running MAX end of all earlier intervals — lag(e) alone would split
    a long interval's containment-nested successors into bogus islands.
    One shuffle: the windows and the island aggregate share the key
    partitioning.

    ``tiebreak`` (a unique column) should be passed whenever duplicate
    ``(s, e)`` per key are possible: the break-flag and running-sum
    windows must observe tied rows in ONE order, and ``(s, e)`` alone
    leaves that order engine-internal — evaluated independently per
    window (as DuckDB's parallel window operator does), inconsistent
    tie orders merge islands across real gaps and split true islands."""
    order = ["s", "e"] + ([tiebreak] if tiebreak else [])
    w = Window.partitionBy("key").orderBy(*order)
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0)
    isl = iv.withColumn(
        "island", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return isl.groupBy("key", "island").agg(
        F.min("s").alias("island_start_us"),
        F.max("e").alias("island_end_us"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# u56: additive incremental view maintenance
# ---------------------------------------------------------------------------

_IVM_CUT = "1997-01-01"

_IVM_ORACLE = f"""
    WITH full_agg AS (
      SELECT l_returnflag, l_linestatus,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, n_rows, sum_qty, revenue_cents,
           TRUE AS incremental_matches
    FROM full_agg
"""


@register(
    "u56_incremental_agg",
    oracle=_IVM_ORACLE,
    doc="Additive incremental view maintenance: lineitem is split at "
    f"shipdate {_IVM_CUT} into a materialized base and an arriving "
    "delta; agg(base) full-outer-⊕ agg(delta) must equal agg(base ∪ "
    "delta) INTEGER-EXACTLY per (returnflag, linestatus) cell — "
    "quantities as bigints, money as round-to-cents bigints, so the "
    "identity is algebra, not float luck. This is the property that "
    "turns a 100 TB nightly recompute into a delta-sized job for "
    "append-only facts (COUNT/SUM are the self-maintainable "
    "aggregates; keyed updates route through the sinks/upsert MERGE "
    "path instead). The emitted rows are the MERGED view; the boolean "
    "is the recompute comparison, both hash-checked. Scale shape: "
    "three filter-pushed scans feeding map-side-combined aggregates "
    "(in deployment the base agg is the stored view — no base scan at "
    "all); all joins happen on the ≤6-row agg cells.",
    tags=("ivm", "aggregate", "incremental"),
)
def u56_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents"),
        "l_shipdate",
    )
    cut = F.lit(_IVM_CUT).cast("timestamp")

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum("qty").alias(f"q_{tag}"),
            F.sum("cents").alias(f"c_{tag}"),
        )

    base = agg(li.where(F.col("l_shipdate") < cut), "b")
    delta = agg(li.where(F.col("l_shipdate") >= cut), "d")
    full = agg(li, "f")

    z = F.lit(0).cast("bigint")
    merged = base.join(
        delta, ["l_returnflag", "l_linestatus"], "full_outer"
    ).select(
        "l_returnflag",
        "l_linestatus",
        (F.coalesce("n_b", z) + F.coalesce("n_d", z)).alias("n_rows"),
        (F.coalesce("q_b", z) + F.coalesce("q_d", z)).alias("sum_qty"),
        (F.coalesce("c_b", z) + F.coalesce("c_d", z)).alias("revenue_cents"),
    )
    return merged.join(full, ["l_returnflag", "l_linestatus"]).select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        "sum_qty",
        "revenue_cents",
        (
            (F.col("n_rows") == F.col("n_f"))
            & (F.col("sum_qty") == F.col("q_f"))
            & (F.col("revenue_cents") == F.col("c_f"))
        ).alias("incremental_matches"),
    )


# ---------------------------------------------------------------------------
# x59: market-basket pair mining (support / confidence / lift)
# ---------------------------------------------------------------------------

_MAX_BASKET = 64  # explicit guard, replicated in the oracle — not silent

_BASKET_ORACLE = f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    sized AS (
      SELECT l_orderkey, p_brand,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS bsz
      FROM basket
    ),
    kept AS (SELECT l_orderkey, p_brand FROM sized WHERE bsz <= {_MAX_BASKET}),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM kept),
    brand_n AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt FROM kept
      GROUP BY p_brand
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM kept a JOIN kept b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
    )
    SELECT brand_a, brand_b, support,
           FLOOR(support * 1000000.0 / na.cnt) / 1000000 AS confidence,
           FLOOR((support * n.n_orders) * 1000000.0 / (na.cnt * nb.cnt))
             / 1000000 AS lift
    FROM pairs
    JOIN brand_n na ON brand_a = na.p_brand
    JOIN brand_n nb ON brand_b = nb.p_brand
    CROSS JOIN n
    WHERE support >= 3
"""


@register(
    "x59_market_basket",
    oracle=_BASKET_ORACLE,
    doc="Market-basket pair mining over orders (items keyed by part "
    "brand): support, confidence(a→b), and lift for every unordered "
    "brand pair co-occurring in ≥3 baskets. The Apriori-style 2-item "
    "pass every retail/recommendation warehouse runs. Basket size is "
    f"guarded at {_MAX_BASKET} items with the guard REPLICATED IN THE "
    "ORACLE (it is part of the declared semantics, not a silent cap); "
    "TPC-H baskets are ≤7 so it never binds here, but at 100 TB it "
    "bounds per-basket pair fan-out at C(cap,2). Scale shape: the "
    "brand dimension broadcasts into ONE l_orderkey-keyed collect_set "
    "aggregate, and dedup, the size guard, pair generation (in-row "
    "double-explode of the guarded set — no orderkey self-join, no "
    "second distinct), and the item marginals all derive from that "
    "single exchange; brand marginals (≤25 rows) and the scalar order "
    "count broadcast back over the 300-row pair table. Ratios "
    "floor-quantized at 6dp on integer inputs — cross-engine exact.",
    bench=True,
    tags=("mining", "basket", "analytics"),
)
def x59_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE l_orderkey exchange builds per-basket brand sets; dedup, the
    # size guard, pair generation, AND the item marginals all come off
    # that single aggregate — no (orderkey, brand)-keyed distinct and
    # no orderkey self-join (pairs explode in-row from the set, fan-out
    # ≤ C(guard, 2) per basket by construction)
    # staged: 4 consumers, 1 computation
    sets = stage(
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_orderkey")
        .agg(F.collect_set("p_brand").alias("brands"))
        .where(F.size("brands") <= _MAX_BASKET)
    )
    n_orders = sets.agg(F.count(F.lit(1)).alias("n_orders"))
    items = sets.select(F.explode("brands").alias("p_brand"))
    brand_n = items.groupBy("p_brand").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = (
        sets.select(F.explode("brands").alias("brand_a"), "brands")
        .select("brand_a", F.explode("brands").alias("brand_b"))
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 3)
    )
    return (
        pairs.join(
            F.broadcast(brand_n).withColumnsRenamed(
                {"p_brand": "brand_a", "cnt": "cnt_a"}
            ),
            "brand_a",
        )
        .join(
            F.broadcast(brand_n).withColumnsRenamed(
                {"p_brand": "brand_b", "cnt": "cnt_b"}
            ),
            "brand_b",
        )
        .join(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "support",
            # floor-quantized 6dp of the identical IEEE division (x39's
            # pattern: cross-engine ROUND disagrees on half-way doubles,
            # floor of the same double cannot)
            (
                F.floor(F.col("support") * F.lit(1000000.0) / F.col("cnt_a"))
                / 1000000
            ).alias("confidence"),
            (
                F.floor(
                    (F.col("support") * F.col("n_orders"))
                    * F.lit(1000000.0)
                    / (F.col("cnt_a") * F.col("cnt_b"))
                )
                / 1000000
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# x60: triangle count on the top-weight co-supply backbone
# ---------------------------------------------------------------------------

_PER_PART_CAP = 8  # lowest-suppkey suppliers per part (deterministic)
_BACKBONE_PCT = 0.01  # keep the top 1% of pair weights

_TRIANGLE_ORACLE = f"""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    capped AS (
      SELECT l_partkey, l_suppkey FROM (
        SELECT l_partkey, l_suppkey,
               ROW_NUMBER() OVER (
                 PARTITION BY l_partkey ORDER BY l_suppkey
               ) AS rn
        FROM ps
      ) WHERE rn <= {_PER_PART_CAP}
    ),
    pw AS (
      SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
             CAST(COUNT(*) AS BIGINT) AS weight
      FROM capped a JOIN capped b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY a.l_suppkey, b.l_suppkey
    ),
    ranked AS (
      SELECT s1, s2, weight,
             ROW_NUMBER() OVER (ORDER BY weight DESC, s1, s2) AS rk,
             COUNT(*) OVER () AS np
      FROM pw
    ),
    edges AS (
      SELECT s1, s2 FROM ranked
      WHERE rk <= GREATEST(1, CAST(FLOOR(np * {_BACKBONE_PCT}) AS BIGINT))
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.s2 = e2.s1
      JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    ),
    stats AS (
      SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
             CAST(COUNT(DISTINCT s) AS BIGINT) AS n_nodes
      FROM (SELECT s1 AS s FROM edges UNION ALL SELECT s2 FROM edges)
    )
    SELECT (SELECT n_edges FROM stats) AS n_edges,
           (SELECT n_nodes FROM stats) AS n_nodes,
           (SELECT n_triangles FROM tri) AS n_triangles
"""


@register(
    "x60_triangle_count",
    oracle=_TRIANGLE_ORACLE,
    doc="Triangle count on the co-supply backbone: suppliers are "
    "linked by parts they both supply, pair weights counted, and only "
    f"the top {_BACKBONE_PCT:.0%} of weights (deterministic "
    "weight/key tie-break) form the backbone whose triangles are "
    "counted via the oriented s1<s2<s3 three-way self-join. Every "
    "densification hazard is cut BEFORE it materializes, and every cut "
    "is replayed by the oracle: per-part supplier fan-out capped at "
    f"{_PER_PART_CAP} lowest keys (pair emission ≤ C(cap,2)·n_parts — "
    "TPC-H co-supply is otherwise near-complete and triangle counting "
    "on a dense graph is cubic), and the percentile backbone keeps the "
    "edge set sparse at ANY scale, unlike a fixed weight threshold "
    "which densifies as shared-part counts grow linearly with the "
    "corpus. The oriented join is the standard distributed triangle "
    "enumeration (each triangle counted exactly once). Graph-analytics "
    "coverage beyond x58's PageRank.",
    tags=("graph", "mining", "analytics"),
)
def x60_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = (
        T(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    wcap = Window.partitionBy("l_partkey").orderBy("l_suppkey")
    capped = (
        ps.withColumn("rn", F.row_number().over(wcap))
        .where(F.col("rn") <= _PER_PART_CAP)
        .select("l_partkey", "l_suppkey")
    )
    pw = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("s1"),
            F.col("b.l_suppkey").alias("s2"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    # global rank WITHOUT a single-partition window over the pair table
    # (u44's hierarchical-rank pattern): the coarse bucket is the sort
    # attribute itself (weight), so rank = exclusive prefix sum of
    # bucket counts (tiny distinct-weight table — the only global
    # window runs over it) + within-bucket row_number. Identical total
    # order to the oracle's plain ROW_NUMBER (weight DESC, s1, s2).
    bn = pw.groupBy("weight").agg(F.count(F.lit(1)).alias("bn"))
    wb = Window.orderBy(F.desc("weight"))
    offs = bn.select(
        "weight",
        F.coalesce(
            F.sum("bn").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("off"),
        F.sum("bn").over(
            wb.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("np"),
    )
    win_w = Window.partitionBy("weight").orderBy("s1", "s2")
    ranked = pw.withColumn("rn", F.row_number().over(win_w)).join(
        F.broadcast(offs), "weight"
    )
    edges = ranked.where(
        (F.col("off") + F.col("rn"))
        <= F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.col("np") * F.lit(_BACKBONE_PCT)),
        )
    ).select("s1", "s2")
    # the backbone is small by construction (1% of ≤C(n_supp,2) pairs)
    # — broadcast it into its own oriented self-joins
    e = F.broadcast(edges)
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.s2") == F.col("e2.s1"))
        .join(
            e.alias("e3"),
            (F.col("e3.s1") == F.col("e1.s1"))
            & (F.col("e3.s2") == F.col("e2.s2")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = (
        edges.select(F.col("s1").alias("s"))
        .unionAll(edges.select(F.col("s2").alias("s")))
        .agg(
            F.count(F.lit(1)).alias("n_edges_x2"),
            F.count_distinct("s").alias("n_nodes"),
        )
        .select(
            (F.col("n_edges_x2") / 2).cast("bigint").alias("n_edges"),
            "n_nodes",
        )
    )
    return nodes.join(F.broadcast(tri)).select(
        "n_edges", "n_nodes", "n_triangles"
    )


# ---------------------------------------------------------------------------
# x61: Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    marg AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot FROM pairs
      GROUP BY event_type
    )
    SELECT p.event_type, p.next_type, p.n,
           FLOOR(p.n * 1000000.0 / m.tot) / 1000000 AS prob
    FROM pairs p JOIN marg m ON p.event_type = m.event_type
"""


@register(
    "x61_markov_transitions",
    oracle=_MARKOV_ORACLE,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lead() pairs each event with its successor (ts, "
    "event_id total order), pair counts normalize into row-stochastic "
    "transition probabilities. The behavioral-model estimation pass "
    "under next-event prediction and funnel simulation. Scale shape: "
    "the sequence window and nothing else touches the event table — "
    "ONE user_id shuffle; the k×k matrix (k = n_event_types) and its "
    "marginals are driver-scale, joined without shuffles. Probabilities "
    "floor-quantized at 6dp on integer inputs (cross-engine exact).",
    tags=("window", "markov", "analytics", "mining"),
)
def x61_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = T(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type")
        .over(
            Window.partitionBy("user_id").orderBy(
                F.unix_micros("ts"), "event_id"
            )
        )
        .alias("next_type"),
    )
    pairs = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    marg = pairs.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return pairs.join(F.broadcast(marg), "event_type").select(
        "event_type",
        "next_type",
        "n",
        (F.floor(F.col("n") * F.lit(1000000.0) / F.col("tot")) / 1000000)
        .alias("prob"),
    )


# ---------------------------------------------------------------------------
# x62: time-hierarchy rollup (hypertable continuous-aggregate shape)
# ---------------------------------------------------------------------------

_TIME_ROLLUP_ORACLE = """
    WITH e AS (
      SELECT event_type,
             epoch_us(date_trunc('day', ts))  AS day_us,
             epoch_us(date_trunc('hour', ts)) AS hour_us,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT
      CASE WHEN GROUPING(hour_us) = 0 THEN 'hour'
           WHEN GROUPING(day_us) = 0 THEN 'day'
           ELSE 'total' END AS grain,
      event_type,
      COALESCE(day_us, -1) AS day_us,
      COALESCE(hour_us, -1) AS hour_us,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM e
    GROUP BY GROUPING SETS (
      (event_type, day_us, hour_us), (event_type, day_us), (event_type)
    )
"""


@register(
    "x62_time_rollup",
    oracle=_TIME_ROLLUP_ORACLE,
    doc="Time-hierarchy rollup (the hypertable continuous-aggregate "
    "shape): per-event-type sums at hour, day, and total grain in ONE "
    "grouping-sets pass — Spark expands the sets after a shared "
    "partial aggregate, so the fact table is scanned and shuffled "
    "once, not once per grain. This is the materialization an event "
    "warehouse refreshes incrementally (each hour cell is additive, so "
    "u56's IVM identity applies per grain). Money as round-to-cents "
    "bigints — every cell integer-exact; missing grain keys sentinel "
    "at -1 (COALESCE over the grouping-sets null, cross-engine "
    "identical).",
    tags=("rollup", "timeseries", "analytics"),
)
def x62_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.date_trunc("day", "ts")).alias("day_us"),
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    g = e.groupingSets(
        [["event_type", "day_us", "hour_us"], ["event_type", "day_us"], ["event_type"]],
        "event_type",
        "day_us",
        "hour_us",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("value_cents"),
        F.grouping("day_us").alias("gd"),
        F.grouping("hour_us").alias("gh"),
    )
    return g.select(
        F.when(F.col("gh") == 0, "hour")
        .when(F.col("gd") == 0, "day")
        .otherwise("total")
        .alias("grain"),
        "event_type",
        F.coalesce("day_us", F.lit(-1)).alias("day_us"),
        F.coalesce("hour_us", F.lit(-1)).alias("hour_us"),
        "n_events",
        "value_cents",
    )


# ---------------------------------------------------------------------------
# x63: SCD Type-2 dimension build from the event change log
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
    WITH o AS (
      SELECT user_id, event_type AS state, epoch_us(ts) AS tsu, event_id
      FROM events
    ),
    flagged AS (
      SELECT user_id, state, tsu, event_id,
             CASE WHEN LAG(state) OVER w IS NULL
                    OR LAG(state) OVER w <> state THEN 1 ELSE 0 END AS chg
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
    ),
    seg AS (
      SELECT user_id, state, tsu,
             SUM(chg) OVER (
               PARTITION BY user_id ORDER BY tsu, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS ver
      FROM flagged
    ),
    grp AS (
      SELECT user_id, CAST(ver AS BIGINT) AS version, state,
             MIN(tsu) AS valid_from_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM seg GROUP BY user_id, ver, state
    )
    SELECT user_id, version, state, valid_from_us,
           COALESCE(LEAD(valid_from_us) OVER (
             PARTITION BY user_id ORDER BY version
           ), -1) AS valid_to_us,
           CASE WHEN LEAD(valid_from_us) OVER (
             PARTITION BY user_id ORDER BY version
           ) IS NULL THEN TRUE ELSE FALSE END AS is_current,
           n_events
    FROM grp
"""


@register(
    "x63_scd2_build",
    oracle=_SCD2_ORACLE,
    doc="Slowly-changing-dimension Type-2 build from a change log: "
    "consecutive same-state runs per user collapse into versioned "
    "validity intervals [valid_from, valid_to) with an is_current "
    "flag — the dimension-table construction every warehouse load "
    "performs from CDC streams (the reference's keyed upsert W2 is the "
    "Type-1 form; this is the history-preserving Type-2). Run "
    "detection is the lag-change flag + running sum (x55's machinery "
    "applied to state changes, not time gaps); valid_to comes from "
    "lead() over the per-user version sequence. ONE user_id shuffle "
    "end-to-end: both windows and the run aggregate share the "
    "partitioning; open intervals sentinel at -1.",
    tags=("window", "scd", "etl", "analytics"),
)
def x63_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("tsu"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    chg = F.when(
        F.lag("state").over(w).isNull()
        | (F.lag("state").over(w) != F.col("state")),
        1,
    ).otherwise(0)
    seg = o.withColumn(
        "ver", F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    grp = seg.groupBy("user_id", "ver", "state").agg(
        F.min("tsu").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("ver")
    nxt = F.lead("valid_from_us").over(wv)
    return grp.select(
        "user_id",
        F.col("ver").alias("version"),
        "state",
        "valid_from_us",
        F.coalesce(nxt, F.lit(-1)).alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# u66: KMV (k-minimum-values) sketch set algebra — union AND intersection
# distinct estimates (Beyer et al. 2007), the set operation HLL union
# cannot express. Unlike u54 (engine-specific DataSketches registers,
# only the accuracy BOUND is oracled), KMV over the portable 60-bit hash
# is cross-engine deterministic end to end: bottom-k sets, kth-minimum,
# match counts, and the final floor-quantized estimates hash-check
# exactly against the DuckDB replay.
# ---------------------------------------------------------------------------

from gov_ec_pipeline_etl_spark.functions.hashing import (
    portable_hash64,
    portable_hash64_sql,
)

_KMV_K = 256
# hash domain is 60 bits (md5 hex prefix of 15 nibbles)
_KMV_DOMAIN = float(1 << 60)
# audience = users with an ODD number of type-t events — a
# distribution-free ~50% slice (value-threshold cuts degenerate: the
# synthetic generators give every user every type, and value quantiles
# differ between the driver's parquet and gen_testdata's, so any fixed
# cut is dense on one and empty on the other). Odd-count membership is
# ~Binomial(1/2) per (type, user), so pair unions run ~75% and
# intersections ~25% of users — non-degenerate set algebra everywhere.

_U66_ORACLE = f"""
    WITH aud AS (
      SELECT event_type AS t, user_id
      FROM events GROUP BY event_type, user_id
      HAVING COUNT(*) % 2 = 1
    ),
    hashes AS (
      SELECT DISTINCT t,
             {portable_hash64_sql("CAST(user_id AS VARCHAR)", 0)} AS h
      FROM aud
    ),
    bk AS (
      SELECT t, h FROM (
        SELECT t, h,
               ROW_NUMBER() OVER (PARTITION BY t ORDER BY h) AS rn
        FROM hashes
      ) WHERE rn <= {_KMV_K}
    ),
    pairs AS (
      SELECT x.t AS ta, y.t AS tb
      FROM (SELECT DISTINCT t FROM bk) x
      JOIN (SELECT DISTINCT t FROM bk) y ON x.t < y.t
    ),
    merged AS (
      SELECT p.ta, p.tb, b.h,
             MAX(CASE WHEN b.t = p.ta THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN b.t = p.tb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN bk b ON b.t = p.ta OR b.t = p.tb
      GROUP BY p.ta, p.tb, b.h
    ),
    union_k AS (
      SELECT ta, tb, h, in_a, in_b FROM (
        SELECT ta, tb, h, in_a, in_b,
               ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
        FROM merged
      ) WHERE rn <= {_KMV_K}
    ),
    sketch AS (
      SELECT ta, tb,
             CAST(COUNT(*) AS BIGINT) AS n_sketch,
             MAX(h) AS hk,
             CAST(SUM(in_a * in_b) AS BIGINT) AS j
      FROM union_k GROUP BY ta, tb
    ),
    du AS (
      SELECT t, user_id FROM aud
    ),
    exact_flags AS (
      SELECT p.ta, p.tb, d.user_id,
             MAX(CASE WHEN d.t = p.ta THEN 1 ELSE 0 END) AS has_a,
             MAX(CASE WHEN d.t = p.tb THEN 1 ELSE 0 END) AS has_b
      FROM pairs p JOIN du d ON d.t = p.ta OR d.t = p.tb
      GROUP BY p.ta, p.tb, d.user_id
    ),
    exact AS (
      SELECT ta, tb,
             CAST(COUNT(*) AS BIGINT) AS exact_union,
             CAST(SUM(has_a * has_b) AS BIGINT) AS exact_intersect
      FROM exact_flags GROUP BY ta, tb
    )
    SELECT s.ta, s.tb,
           CASE WHEN s.n_sketch < {_KMV_K} THEN 'exact'
                ELSE 'estimate' END AS mode,
           CASE WHEN s.n_sketch < {_KMV_K} THEN CAST(s.n_sketch AS DOUBLE)
                ELSE FLOOR({_KMV_K - 1}.0 * {_KMV_DOMAIN!r} / s.hk * 1e6)
                     / 1e6 END AS union_est,
           CASE WHEN s.n_sketch < {_KMV_K} THEN CAST(s.j AS DOUBLE)
                ELSE FLOOR(CAST(s.j AS DOUBLE) / {_KMV_K}
                           * ({_KMV_K - 1}.0 * {_KMV_DOMAIN!r} / s.hk)
                           * 1e6) / 1e6 END AS intersect_est,
           FLOOR(CAST(s.j AS DOUBLE) / s.n_sketch * 1e6) / 1e6
             AS jaccard_est,
           e.exact_union, e.exact_intersect
    FROM sketch s JOIN exact e ON s.ta = e.ta AND s.tb = e.tb
"""


@register(
    "u66_kmv_set_ops",
    oracle=_U66_ORACLE,
    doc="KMV (k-minimum-values, k=256) sketch set algebra over per-"
    "event-type user audiences: distinct-count estimates for the UNION "
    "and the INTERSECTION of every type pair — the set operation HLL "
    "union cannot express (u54 completes union only). Estimator: "
    "(k-1)*2^60/h_k on the kth-minimum of the merged bottom-k sets; "
    "intersection = (j/k)*union_est where j counts union-sketch members "
    "present in BOTH sides; degenerate small audiences (union sketch "
    "short of k) collapse to exact mode. Built on the portable 60-bit "
    "hash, so — unlike engine-opaque HLL registers — every intermediate "
    "(bottom-k sets, h_k, j) and the floor-quantized estimates are "
    "cross-engine deterministic and the DuckDB oracle hash-checks them "
    "exactly, alongside exact union/intersection audit columns. Scale "
    "shape: one distinct-agg on (type, hash), bottom-k via rank<=k "
    "(WindowGroupLimit — map tasks pre-truncate to k per type), then "
    "all sketch algebra on k*types rows; the exact audit is one "
    "(pair, user) aggregation whose fan-out is bounded by types-1. At "
    "100 TB the audit columns drop and the sketch path alone touches "
    "the data once.",
    tags=("sketch", "kmv", "set-ops", "mining", "scale-guard"),
)
def u66_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        T(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("t"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") % 2 == 1)
        .select("t", "user_id")
    )
    # distinct BEFORE the bottom-k window, mirroring the oracle's
    # SELECT DISTINCT (t, h): a 60-bit collision between two same-type
    # users must consume ONE rn slot on both engines or the bottom-k
    # boundary shifts (negligible at gate scales, but the parity claim
    # is exactness, not probability)
    hashes = ev.select(
        "t", portable_hash64(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    wk = Window.partitionBy("t").orderBy("h")
    bk = (
        hashes.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= _KMV_K)
        .drop("rn")
    )

    types = bk.select("t").distinct()
    pairs = (
        types.alias("x")
        .join(types.alias("y"), F.col("x.t") < F.col("y.t"))
        .select(F.col("x.t").alias("ta"), F.col("y.t").alias("tb"))
    )

    merged = (
        pairs.join(
            F.broadcast(bk),
            (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb")),
        )
        .groupBy("ta", "tb", "h")
        .agg(
            F.max(
                F.when(F.col("t") == F.col("ta"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("t") == F.col("tb"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    wp = Window.partitionBy("ta", "tb").orderBy("h")
    union_k = merged.withColumn("rn", F.row_number().over(wp)).where(
        F.col("rn") <= _KMV_K
    )
    sketch = union_k.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n_sketch"),
        F.max("h").alias("hk"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("j"),
    )

    du = ev
    exact = (
        pairs.join(
            du, (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb"))
        )
        .groupBy("ta", "tb", "user_id")
        .agg(
            F.max(
                F.when(F.col("t") == F.col("ta"), 1).otherwise(0)
            ).alias("has_a"),
            F.max(
                F.when(F.col("t") == F.col("tb"), 1).otherwise(0)
            ).alias("has_b"),
        )
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(F.col("has_a") * F.col("has_b")).alias("exact_intersect"),
        )
    )

    est = F.lit(float(_KMV_K - 1)) * F.lit(_KMV_DOMAIN) / F.col("hk")
    short = F.col("n_sketch") < _KMV_K
    return sketch.join(F.broadcast(exact), ["ta", "tb"]).select(
        "ta",
        "tb",
        F.when(short, F.lit("exact")).otherwise(F.lit("estimate")).alias(
            "mode"
        ),
        F.when(short, F.col("n_sketch").cast("double"))
        .otherwise(F.floor(est * 1e6) / 1e6)
        .alias("union_est"),
        F.when(short, F.col("j").cast("double"))
        .otherwise(
            F.floor(F.col("j").cast("double") / _KMV_K * est * 1e6) / 1e6
        )
        .alias("intersect_est"),
        (
            F.floor(
                F.col("j").cast("double") / F.col("n_sketch") * 1e6
            )
            / 1e6
        ).alias("jaccard_est"),
        "exact_union",
        "exact_intersect",
    )


# ---------------------------------------------------------------------------
# u67: join-key skew audit — the DETECTOR for the hazard class the
# round-6 skew gate exercises. Before shipping a 100 TB join, measure
# key-mass concentration on each fact-table foreign key and emit the
# physical-strategy recommendation (broadcast / AQE default / salt-or-
# cap). The v01 root cause (a 30%-hot key turning an interval join
# output-quadratic) is exactly what top1_share flags upstream.
# ---------------------------------------------------------------------------

# (table, key column) pairs a fact-to-dimension join would shuffle on
_SKEW_AUDIT_COLS = (
    ("orders", "o_custkey"),
    ("lineitem", "l_suppkey"),
    ("lineitem", "l_partkey"),
    ("events", "user_id"),
)
_SKEW_HOT = 0.05   # top-1 key holding >5% of rows: salt or cap
_SKEW_WARM = 0.20  # top-10 keys holding >20%: lean on AQE skew join


def _u67_leg_sql(table: str, col: str) -> str:
    return f"""
        SELECT '{table}' AS tbl, '{col}' AS key_col,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               FLOOR(MAX(n) * 1e6 / SUM(n)) / 1e6 AS top1_share,
               FLOOR(SUM(CASE WHEN rk <= 10 THEN n ELSE 0 END) * 1e6
                     / SUM(n)) / 1e6 AS top10_share,
               CASE
                 WHEN MAX(n) * 1.0 / SUM(n) > {_SKEW_HOT}
                   THEN 'salt-or-cap'
                 WHEN SUM(CASE WHEN rk <= 10 THEN n ELSE 0 END) * 1.0
                      / SUM(n) > {_SKEW_WARM}
                   THEN 'aqe-skew-join'
                 ELSE 'hash-default'
               END AS strategy
        FROM (
          SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, k) AS rk
          FROM (
            SELECT {col} AS k, CAST(COUNT(*) AS BIGINT) AS n
            FROM {table} GROUP BY {col}
          )
        )
    """


_U67_ORACLE = "\n UNION ALL \n".join(
    _u67_leg_sql(t, c) for t, c in _SKEW_AUDIT_COLS
)


@register(
    "u67_skew_audit",
    oracle=_U67_ORACLE,
    doc="Join-key skew audit over every fact-table foreign key a "
    "dimension join would shuffle on: per (table, key) the key count, "
    "top-1 and top-10 key mass shares (floor-quantized 6dp, total "
    "tie order count DESC, key ASC), and the physical-strategy verdict "
    "the shares imply — >5% on one key: salt-or-cap (the v01 class: no "
    "join strategy shrinks a per-key-quadratic answer, the guard must "
    "cut key mass upstream, see v09); >20% on ten keys: AQE skew-join "
    "territory; else default hash exchange. This is the detector for "
    "the hazard class SCALE_sf1_skew.json exercises: on the skewed "
    "generator the audit flips orders/events keys to salt-or-cap while "
    "uniform data reads hash-default. Scale shape: one map-side-"
    "combinable count per key, one scalar agg, and a TakeOrdered "
    "top-10 (per-task partial top-k — deliberately NOT a rank window, "
    "which would single-task the billion-key frame) per audited "
    "column; output is columns-audited-scale.",
    tags=("skew", "audit", "scale-guard", "mining"),
)
def u67_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for table, col in _SKEW_AUDIT_COLS:
        counts = (
            T(spark, sf_dir, table)
            .groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # totals: one map-side-combinable agg over the keys frame; the
        # top-1 share needs only max(n), no ordering
        totals = counts.agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("n").alias("max_n"),
        )
        # top-10 mass: orderBy+limit compiles to TakeOrdered (per-task
        # partial top-k, never a global sort) — a bare rank window here
        # would single-task the billion-key frame at 100 TB
        top10 = (
            counts.orderBy(F.desc("n"), F.asc("k"))
            .limit(10)
            .agg(F.sum("n").alias("top10_n"))
        )
        leg = totals.crossJoin(F.broadcast(top10)).select(
            F.lit(table).alias("tbl"),
            F.lit(col).alias("key_col"),
            "n_rows",
            "n_keys",
            (F.floor(F.col("max_n") * 1e6 / F.col("n_rows")) / 1e6).alias(
                "top1_share"
            ),
            (
                F.floor(F.col("top10_n") * 1e6 / F.col("n_rows")) / 1e6
            ).alias("top10_share"),
            F.when(
                F.col("max_n") * 1.0 / F.col("n_rows") > _SKEW_HOT,
                F.lit("salt-or-cap"),
            )
            .when(
                F.col("top10_n") * 1.0 / F.col("n_rows") > _SKEW_WARM,
                F.lit("aqe-skew-join"),
            )
            .otherwise(F.lit("hash-default"))
            .alias("strategy"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out
