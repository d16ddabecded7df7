"""Unit tests for normalize/category/numeric/dedup operators on synthetic
messy frames (the reference's semantics as the spec, SURVEY.md §2)."""

from __future__ import annotations

import pyspark.sql.functions as F

from gov_ec_pipeline_etl_spark.operators.category import (
    apply_category_rules,
    out_of_domain_report,
)
from gov_ec_pipeline_etl_spark.operators.dedup import (
    dedup_keep_first,
    dedup_keep_latest,
    duplicate_key_count,
)
from gov_ec_pipeline_etl_spark.operators.normalize import (
    drop_all_null_columns,
    drop_all_null_rows,
    normalize_column_names,
    replace_na_tokens,
)
from gov_ec_pipeline_etl_spark.operators.numeric import (
    apply_numeric_bounds,
    out_of_bounds_counts,
)


def test_normalize_column_names(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["  Código ICCS ", "edad", "Código ICCS"])
    out = normalize_column_names(df)
    assert out.columns == ["codigo_iccs", "edad", "codigo_iccs_1"]


def test_normalize_column_names_suffix_chains(spark):
    """A generated suffix must not collide with a later real column:
    ['a','a','a_1','a'] naively becomes ['a','a_1','a_1','a_2']."""
    df = spark.createDataFrame([(1, 2, 3, 4)], ["a", "a", "a_1", "a"])
    out = normalize_column_names(df)
    assert out.columns == ["a", "a_1", "a_1_1", "a_2"]
    assert len(set(out.columns)) == 4


def test_replace_na_tokens_and_drop_rows(spark):
    df = spark.createDataFrame(
        [(" NA ", "x"), ("", None), ("ok", " y ")], ["a", "b"]
    )
    cleaned = replace_na_tokens(df)
    rows = cleaned.collect()
    assert rows[0].a is None and rows[0].b == "x"
    assert rows[1].a is None and rows[1].b is None
    assert rows[2].a == "ok" and rows[2].b == "y"
    assert drop_all_null_rows(cleaned).count() == 2


def test_drop_all_null_rows_keeps_na_drop_semantics(spark):
    """An all-null row goes; a row whose one value sits in a non-string
    column stays; a row whose one value is a NaN double goes (NaN counts
    as null, as in ``na.drop``)."""
    df = spark.createDataFrame(
        [
            (None, None, None),
            (None, 7, None),
            (None, None, float("nan")),
            (None, None, 1.5),
            ("x", None, None),
        ],
        "s: string, n: int, d: double",
    )
    rows = {(r.s, r.n, r.d) for r in drop_all_null_rows(df).collect()}
    assert rows == {(None, 7, None), (None, None, 1.5), ("x", None, None)}
    assert rows == {(r.s, r.n, r.d) for r in df.na.drop(how="all").collect()}


def test_drop_all_null_columns(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "a: bigint, b: string")
    assert drop_all_null_columns(df).columns == ["a"]


def test_category_rules_map_domain(spark):
    df = spark.createDataFrame(
        [("  M ",), ("f",), ("desconocido",), (None,)], ["sexo"]
    )
    out = apply_category_rules(
        df,
        {
            "sexo": {
                "map": {"m": "Masculino", "f": "Femenino"},
                "allowed": ["Masculino", "Femenino"],
                "coerce_to": None,
            }
        },
    )
    vals = [r.sexo for r in out.collect()]
    assert vals == ["Masculino", "Femenino", None, None]


def test_out_of_domain_report(spark):
    df = spark.createDataFrame([("a",), ("b",), ("b",), (None,)], ["c"])
    rep = out_of_domain_report(df, "c", allowed=["a"])
    assert rep == {"values": ["b"], "n_rows": 2, "n_distinct": 1}


def test_numeric_bounds(spark):
    df = spark.createDataFrame(
        [(150.0,), (30.0,), (-1.0,), (None,)], ["edad"]
    )
    out = apply_numeric_bounds(df, {"edad": (0, 120)})
    vals = [r.edad for r in out.collect()]
    assert vals == [None, 30.0, None, None]
    assert out_of_bounds_counts(df, {"edad": (0, 120)}) == {"edad": 2}


def test_dedup_keep_latest_deterministic_tiebreak(spark):
    import datetime

    d = datetime.datetime
    df = spark.createDataFrame(
        [
            ("k1", d(2024, 1, 1), 1, "old"),
            ("k1", d(2024, 1, 2), 2, "newer"),
            ("k1", d(2024, 1, 2), 3, "tie-higher-id"),
            ("k2", None, 4, "null-date"),
        ],
        ["bk", "fecha", "seq", "val"],
    )
    assert duplicate_key_count(df, ["bk"]) == 1
    out = dedup_keep_latest(df, ["bk"], "fecha", tiebreak_col="seq")
    got = {r.bk: r.val for r in out.collect()}
    assert got == {"k1": "tie-higher-id", "k2": "null-date"}
    assert dedup_keep_first(df, ["bk"]).count() == 2


def test_dedup_keep_latest_nulls_lose(spark):
    import datetime

    df = spark.createDataFrame(
        [("k", None, 9), ("k", datetime.datetime(2020, 1, 1), 1)],
        ["bk", "fecha", "seq"],
    )
    out = dedup_keep_latest(df, ["bk"], "fecha", "seq")
    assert out.first().seq == 1


def test_replicated_broadcast_join_equals_plain(spark):
    """Salted/replicated broadcast join must be semantically identical to
    the plain inner join (skew mitigation is a plan rewrite, not a
    semantics change)."""
    from gov_ec_pipeline_etl_spark.operators.skew import replicate_broadcast_join

    big = spark.createDataFrame(
        [("k1", i) for i in range(500)] + [("k2", i) for i in range(5)],
        "k: string, v: bigint",
    )
    small = spark.createDataFrame(
        [("k1", "hot"), ("k2", "cold"), ("k3", "unmatched")], "k: string, tag: string"
    )
    plain = {(r.k, r.v, r.tag) for r in big.join(small, "k").collect()}
    salted = {
        (r.k, r.v, r.tag)
        for r in replicate_broadcast_join(big, small, "k", salt_buckets=4).collect()
    }
    assert salted == plain and len(plain) == 505


def test_category_via_broadcast_join_matches_expr(spark):
    """The broadcast-join mapping form must equal the literal-map
    expression form (A1's two physical shapes, one semantics)."""
    from gov_ec_pipeline_etl_spark.operators.category import (
        apply_category_via_join,
        category_expr,
    )

    df = spark.createDataFrame(
        [("  M ",), ("f",), ("desconocido",), (None,)], ["sexo"]
    )
    mapping = {"m": "Masculino", "f": "Femenino"}
    via_expr = [
        r.sexo
        for r in df.select(
            category_expr("sexo", mapping).alias("sexo")
        ).collect()
    ]
    mapping_df = spark.createDataFrame(
        list(mapping.items()), "key: string, value: string"
    )
    via_join = [
        r.sexo for r in apply_category_via_join(df, "sexo", mapping_df).collect()
    ]
    assert via_join == via_expr == ["Masculino", "Femenino", "desconocido", None]


def test_sessionize_gap_is_strict(spark):
    """Events exactly 30 min apart stay in ONE session (the cut is a
    strict > on the gap); 30 min + 1 us opens a new one."""
    import datetime as dt

    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.plans.analytics_queries import (
        sessionized_events,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 10, t0),
        (1, 11, t0 + dt.timedelta(minutes=30)),          # == gap → same
        (1, 12, t0 + dt.timedelta(minutes=60, microseconds=1)),  # > gap
        (2, 20, t0),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "ts"])
    # the PRODUCTION session-id expression, not a replica
    s = sessionized_events(
        ev.select("user_id", "event_id", F.unix_micros("ts").alias("tsu"))
    )
    per = {
        (r.user_id, r.sid): r.n
        for r in s.groupBy("user_id", "sid").agg(F.count("*").alias("n")).collect()
    }
    assert per == {(1, 1): 2, (1, 2): 1, (2, 1): 1}
