"""Behavioral-analytics queries over ``events`` (x55–x57, u49):
sessionization, conversion funnel, cohort retention, and a
sketch-vs-exact quantile bound.

The product-analytics surface an events warehouse serves daily —
gap-based sessions, ordered-stage conversion, weekly cohort retention —
each expressed as declarative window/join plans with full DuckDB
oracles. u49 extends the q21b pattern (sketch answers can't hash-match,
so the CLAIMED ERROR BOUND is what's oracled) to quantiles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gov_ec_pipeline_etl_spark.plans.registry import register
from gov_ec_pipeline_etl_spark.plans.util import T

SESSION_GAP_US = 1_800_000_000  # 30 min


def sessionized_events(o: DataFrame) -> DataFrame:
    """Attach gap-cut session ids: input (user_id, event_id, tsu) →
    + sid. The lag-gap flag uses a STRICT > on the gap (events exactly
    SESSION_GAP_US apart share a session). Shared by x55, its boundary
    unit test, and anything else sessionizing an event frame."""
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    brk = F.when(
        F.lag("tsu").over(w).isNull()
        | ((F.col("tsu") - F.lag("tsu").over(w)) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    return o.withColumn(
        "sid", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


SESSIONIZE_ORACLE = f"""
        WITH o AS (
          SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events
        ),
        m AS (
          SELECT user_id, event_id, tsu,
                 CASE WHEN LAG(tsu) OVER w IS NULL
                        OR tsu - LAG(tsu) OVER w > {SESSION_GAP_US}
                      THEN 1 ELSE 0 END AS brk
          FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        ),
        s AS (
          SELECT user_id, tsu,
                 SUM(brk) OVER (
                   PARTITION BY user_id ORDER BY tsu, event_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS sid
          FROM m
        )
        SELECT user_id, CAST(sid AS BIGINT) AS session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(tsu) - MIN(tsu) AS span_us
        FROM s GROUP BY user_id, sid
    """


@register(
    "x55_sessionize",
    oracle=SESSIONIZE_ORACLE,
    doc="Gap-based batch sessionization (30-min inactivity cut): the "
    "classic lag-gap flag → running-sum session id, then one per-"
    "session aggregate. The batch complement of st02's streaming "
    "session windows — same session semantics, replayable over the "
    "full history. Scale shape: both windows and the final aggregate "
    "share the user_id hash partitioning, so the whole plan is ONE "
    "shuffle; per-user frames are event-count bounded.",
    tags=("window", "sessionization", "analytics"),
)
def x55_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("tsu")
    )
    s = sessionized_events(o)
    return s.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("tsu") - F.min("tsu")).alias("span_us"),
    ).select(
        "user_id",
        F.col("sid").cast("bigint").alias("session_id"),
        "n_events",
        "span_us",
    )


@register(
    "x56_funnel",
    oracle="""
        WITH o AS (
          SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events
        ),
        f AS (
          SELECT user_id, MIN(tsu) AS v FROM o
          WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
          SELECT o.user_id, MIN(o.tsu) AS c FROM o JOIN f USING (user_id)
          WHERE o.event_type = 'click' AND o.tsu >= f.v GROUP BY o.user_id
        ),
        p AS (
          SELECT o.user_id, MIN(o.tsu) AS p FROM o JOIN c USING (user_id)
          WHERE o.event_type = 'purchase' AND o.tsu >= c.c GROUP BY o.user_id
        )
        SELECT CAST(COUNT(f.v) AS BIGINT) AS n_view,
               CAST(COUNT(c.c) AS BIGINT) AS n_click,
               CAST(COUNT(p.p) AS BIGINT) AS n_purchase
        FROM f LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
    doc="Ordered-stage conversion funnel (view → click after the first "
    "view → purchase after that click): each stage is a per-user MIN "
    "over the events at that stage constrained to follow the previous "
    "stage's timestamp — the sequencing join product analytics calls a "
    "'strict-order funnel'. Scale shape: three user-keyed aggregates + "
    "joins all sharing the user_id partitioning (one shuffle family); "
    "stage tables only shrink, and the final count is a single row.",
    tags=("analytics", "funnel", "join"),
)
def x56_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tsu")
    )
    f = (
        o.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tsu").alias("v"))
    )
    c = (
        o.where(F.col("event_type") == "click")
        .join(f, "user_id")
        .where(F.col("tsu") >= F.col("v"))
        .groupBy("user_id")
        .agg(F.min("tsu").alias("c"))
    )
    p = (
        o.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("tsu") >= F.col("c"))
        .groupBy("user_id")
        .agg(F.min("tsu").alias("p"))
    )
    return (
        f.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("v").alias("n_view"),
            F.count("c").alias("n_click"),
            F.count("p").alias("n_purchase"),
        )
    )


@register(
    "x57_cohort_retention",
    oracle="""
        WITH a AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS DATE) AS wk
          FROM events
        ),
        coh AS (SELECT user_id, MIN(wk) AS cwk FROM a GROUP BY user_id)
        SELECT CAST(coh.cwk AS VARCHAR) AS cohort_week,
               CAST(date_diff('day', coh.cwk, a.wk) / 7 AS BIGINT) AS week_offset,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
        FROM a JOIN coh USING (user_id)
        GROUP BY coh.cwk, week_offset
    """,
    doc="Weekly cohort retention: users are cohorted by the ISO week of "
    "their first event; each later active week increments that "
    "cohort's retention cell at its week offset — the classic "
    "retention triangle. date_trunc('week') is ISO-Monday in both "
    "engines, so offsets are exact day-multiples of 7. Scale shape: "
    "the distinct-(user, week) reduction happens FIRST (events → "
    "user-weeks, the big shrink), then everything is user-keyed on one "
    "partitioning; the output is weeks² cells — driver-scale.",
    tags=("analytics", "retention", "aggregation"),
)
def x57_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        T(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
        )
        .distinct()
    )
    coh = a.groupBy("user_id").agg(F.min("wk").alias("cwk"))
    return (
        a.join(coh, "user_id")
        .groupBy(
            F.date_format("cwk", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("wk", "cwk") / 7).cast("bigint").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "u49_quantile_sketch_bound",
    oracle="""
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 6) AS median_exact_r,
               TRUE AS within_bound
        FROM events GROUP BY event_type
    """,
    doc="Sketch-vs-exact quantile bound (the q21b pattern extended to "
    "quantiles): the engine computes BOTH the exact per-type median "
    "and approx_percentile's KLL-style sketch answer, and emits the "
    "CLAIM |approx - exact| <= 5 percent of the type's value range as "
    "an oracle-asserted boolean — the sketch answer itself can't "
    "hash-match, the bound can (and a sketch regression flips the row "
    "to false). At 100 TB the sketch is the only viable path (exact "
    "quantiles need a per-group sort); this query keeps it honest "
    "against the exact answer while both are still computable.",
    tags=("aggregation", "sketch", "statistics"),
)
def u49_quantile_sketch_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("exact"),
            F.expr("approx_percentile(value, 0.5, 10000)").alias("approx"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .select(
            "event_type",
            F.round("exact", 6).alias("median_exact_r"),
            (
                F.abs(F.col("approx") - F.col("exact"))
                <= (F.col("hi") - F.col("lo")) * 0.05
            ).alias("within_bound"),
        )
    )


def _pr_iter_sql(prev: str, out: str) -> str:
    """One unrolled PageRank iteration as TWO DuckDB CTEs: gather
    (edges ⋈ prev ranks, summed at dst) then damp (keyed join to deg).
    Kept as two keyed steps deliberately — the single three-way
    join + aggregate spelling let DuckDB's optimizer pick a join order
    that cross-multiplied the two node-scale tables before touching
    edges (the round-5 sf1 gate watched it spill >80 GB and die on
    disk); every join here shares a key, so no order is quadratic.
    ROUND(…, 12) keeps the parallel SUM's order-dependent ulp below
    the 9dp the final output is compared at."""
    return f"""g_{out} AS (
          SELECT e.dst AS node, SUM({prev}.r / {prev}.d) AS gathered
          FROM e JOIN {prev} ON {prev}.node = e.src
          GROUP BY e.dst
        ),
        {out} AS (
          SELECT deg.node, deg.d, n.n,
                 ROUND(0.15 / n.n + 0.85 * g.gathered, 12) AS r
          FROM g_{out} g
          JOIN deg ON deg.node = g.node
          CROSS JOIN n
        )"""


@register(
    "x58_pagerank",
    oracle=f"""
        WITH pairs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        e AS (
          SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
          UNION ALL
          SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
        ),
        deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
        r0 AS (
          SELECT deg.node, deg.d, n.n, 1.0 / n.n AS r
          FROM deg CROSS JOIN n
        ),
        {_pr_iter_sql('r0', 'r1')},
        {_pr_iter_sql('r1', 'r2')},
        {_pr_iter_sql('r2', 'r3')}
        SELECT node, CAST(rnk AS BIGINT) AS rnk, ROUND(r, 9) AS pr_r
        FROM (
          SELECT node, r,
                 ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rnk
          FROM r3
        ) WHERE rnk <= 20
    """,
    doc="PageRank (damping 0.85, 3 unrolled iterations) over the "
    "customer–supplier bipartite graph (distinct trade pairs from "
    "orders ⋈ lineitem, undirected): the iterative graph-centrality "
    "pattern beyond d06's label propagation, each iteration ONE "
    "edges ⋈ ranks join + dst aggregate — the exact shape Pregel-style "
    "systems distribute, here left to Catalyst/AQE with the rank table "
    "re-partitioned by the same node key every round. Every node has "
    "degree >= 1 by construction (edges define the node set), so no "
    "dangling-mass term. Ranks are ROUND(…, 12) per iteration (the "
    "parallel SUM's ulp stays below the quantum) and compared at 9dp; "
    "top-20 by final rank. At 100 TB the per-iteration shuffle is "
    "edge-partitioned and the rank table is node-scale.",
    tags=("graph", "iterative", "analytics"),
)
def x58_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_ec_pipeline_etl_spark.caching import stage

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # the edge table is referenced by every iteration (and deg by every
    # damp step): uncached, each branch of the unrolled lineage re-runs
    # the orders ⋈ lineitem ⋈ DISTINCT derivation — measured ~7
    # recomputations at sf1. Both are staged.
    e = stage(
        pairs.select(
            (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
        )
        .unionByName(
            pairs.select(
                (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst")
            )
        )
    )
    deg = stage(
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .withColumnRenamed("src", "node")
    )
    n_df = deg.agg(F.count(F.lit(1)).cast("double").alias("n"))
    r = deg.crossJoin(F.broadcast(n_df)).select(
        "node", "d", "n", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(3):
        contribs = (
            e.join(r, e["src"] == r["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("d")).alias("gathered"))
        )
        r = (
            deg.join(contribs, deg["node"] == contribs["dst"])
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                "d",
                "n",
                F.round(
                    0.15 / F.col("n") + 0.85 * F.col("gathered"), 12
                ).alias("r"),
            )
            # truncate the per-iteration lineage: without this the three
            # unrolled rounds compile into ONE deep plan (each round's
            # join nested inside the next), which Catalyst/AQE re-plans
            # wholesale — measured 21.4 s cold / 9.8 s steady at sf1 vs
            # 9.9 / 8.2 s with the node-scale rank table checkpointed
            # per round. Iterative systems (GraphX, Pregel) do exactly
            # this materialize-per-superstep; the rank table is
            # node-scale so the checkpoint I/O is the cheap side.
            .localCheckpoint(eager=False)
        )
    # global top-20 as a distributed TakeOrdered (per-partition partial
    # top-k, no single-partition sort of the node table); the ranking
    # window then runs over just those 20 rows
    top = r.orderBy(F.col("r").desc(), "node").limit(20)
    w = Window.orderBy(F.col("r").desc(), "node")
    return top.select(
        "node",
        F.row_number().over(w).cast("bigint").alias("rnk"),
        F.round("r", 9).alias("pr_r"),
    )


# (column, is_numeric) — the profile targets; timestamps and varchars
# get NULL numeric bounds so the output schema is uniform.
_PROFILE_COLS = [
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderdate", False),
    ("o_orderpriority", False),
]


def _profile_oracle() -> str:
    parts = []
    for col, num in _PROFILE_COLS:
        mn = f"ROUND(MIN({col}), 6)" if num else "CAST(NULL AS DOUBLE)"
        mx = f"ROUND(MAX({col}), 6)" if num else "CAST(NULL AS DOUBLE)"
        parts.append(
            f"SELECT '{col}' AS col_name,"
            f" CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,"
            f" CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,"
            f" {mn} AS min_num_r, {mx} AS max_num_r FROM orders"
        )
    return "\n        UNION ALL ".join(parts)


@register(
    "u50_table_profile",
    oracle=_profile_oracle(),
    doc="One-pass table profiler (the engine's SUMMARIZE/describe "
    "face): per column its null count, EXACT distinct count, and "
    "numeric min/max — the data-quality snapshot every ingest runs "
    "before accepting a source. All metrics ride ONE aggregation over "
    "one scan (Spark plans the multi-distinct via expand — the "
    "documented cost of exactness; approx_count_distinct is the 100 TB "
    "swap-in, already exercised by q21b) and the per-column rows "
    "explode from the single metric row — output is column-count-"
    "scale, not data-scale.",
    tags=("profiling", "aggregation", "quality"),
)
def u50_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = T(spark, sf_dir, "orders")
    aggs = []
    for col, num in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(col)).cast("bigint").alias(f"nn_{col}"),
            F.count_distinct(F.col(col)).cast("bigint").alias(f"nd_{col}"),
            (F.round(F.min(col), 6) if num else F.lit(None).cast("double")).alias(
                f"mn_{col}"
            ),
            (F.round(F.max(col), 6) if num else F.lit(None).cast("double")).alias(
                f"mx_{col}"
            ),
        ]
    one = t.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(col).alias("col_name"),
                F.col(f"nn_{col}").alias("n_null"),
                F.col(f"nd_{col}").alias("n_distinct"),
                F.col(f"mn_{col}").alias("min_num_r"),
                F.col(f"mx_{col}").alias("max_num_r"),
            )
            for col, _ in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")
