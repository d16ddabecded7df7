"""Contract compiler tests on the messy fixtures of FIXTURES.md §A:
header repair, NA tokens, coercion, category/numeric rules, key+dedup,
pad/drift, critical fail-fast — the reference transform order end-to-end."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from gov_ec_pipeline_etl_spark.contract.compiler import ContractPipeline
from gov_ec_pipeline_etl_spark.contract.loader import load_config
from gov_ec_pipeline_etl_spark.contract.model import Contract, TransformHardFail
from gov_ec_pipeline_etl_spark.sources.ingest import fix_header

CONFIG = os.path.join(os.path.dirname(__file__), "..", "configs", "detenidos.yaml")


@pytest.fixture(scope="module")
def contract():
    return Contract.from_dict(load_config(CONFIG))


@pytest.fixture(scope="module")
def pipeline(contract):
    return ContractPipeline(contract)


def _clean_df(spark):
    """FIXTURES §A variant 1: canonical headers, no ano column."""
    cols = [
        "Código_ICCS",
        "Fecha Detención Aprehensión",
        "Tipo",
        "Presunta Infracción",
        "Edad",
        "Sexo",
        "Código Provincia",
        "Nombre Provincia",
        "Código Cantón",
        "Latitud",
        "Longitud",
    ]
    rows = [
        ("0101", "2024-03-05", "DETENIDO", "ROBO", "34", "m", "01", "Azuay", "0102", "-2.9", "-79.0"),
        ("0102", "05/03/2024", "APREHENDIDO", "HURTO", "250", "FEMENINO", "17", "Pichincha", "1701", "10.0", "-100.0"),
        ("0103", "s/f", "x", "ASALTO", "NA", "x", "09", "Guayas", "0901", None, None),
    ]
    return spark.createDataFrame(rows, ", ".join(f"`{c}`: string" for c in cols))


def test_clean_variant_end_to_end(spark, pipeline):
    res = pipeline.apply(_clean_df(spark))
    df = res.df
    assert df.columns[:2] == ["surrogate_id", "business_key"]
    rows = {r.codigo_iccs: r for r in df.collect()}
    assert len(rows) == 3
    r1 = rows["0101"]
    assert r1.sexo == "Masculino"
    assert r1.edad == 34.0
    assert r1.tipo == "Detenido"
    assert r1.ano == 2024.0  # derived from fecha
    assert str(r1.fecha_detencion_aprehension).startswith("2024-03-05")
    r2 = rows["0102"]
    assert r2.sexo == "Femenino"  # case-normalized map hit
    assert r2.edad is None  # out of bounds 250 → null
    assert r2.latitud is None and r2.longitud is None  # out-of-Ecuador → null
    assert str(r2.fecha_detencion_aprehension).startswith("2024-03-05")  # dd/MM/yyyy
    r3 = rows["0103"]
    assert r3.fecha_detencion_aprehension is None  # 's/f' NA token
    assert r3.sexo is None and r3.tipo is None  # domain coerce
    assert r3.edad is None
    # surrogate determinism: sha256 of the business key
    import hashlib

    assert r1.surrogate_id == hashlib.sha256(r1.business_key.encode()).hexdigest()
    # padded missing expected columns exist as nulls
    assert "nombre_canton" in df.columns
    assert r1.nombre_canton is None
    assert res.report["rows_in"] == 3
    assert res.report["rows_out"] == 3
    assert res.report["recommended_warnings"] == []


def test_legacy_offset_header(spark, pipeline):
    """FIXTURES §A variant 2: junk title rows + unnamed columns + missing
    recommended columns (latitud/longitud absent → warning, pad)."""
    pdf = pd.DataFrame(
        [
            ["REPORTE OFICIAL", None, None, None, None],
            ["Generado 2024", None, None, None, None],
            ["Código ICCS", "Fecha Detención Aprehensión", "Presunta Infracción", "Nombre Provincia", "Sexo"],
            ["0101", "2024-01-05", "ROBO", "Azuay", "M"],
            ["0102", "2024-02-06", "HURTO", "Guayas", "F"],
        ],
        columns=["Unnamed: 0", "Unnamed: 1", "Unnamed: 2", "Unnamed: 3", "Unnamed: 4"],
    )
    repaired = fix_header(pdf)
    assert list(repaired.columns)[:3] == [
        "codigo_iccs",
        "fecha_detencion_aprehension",
        "presunta_infraccion",
    ]
    assert len(repaired) == 2
    df = spark.createDataFrame(
        [tuple(r) for r in repaired.itertuples(index=False)],
        ", ".join(f"`{c}`: string" for c in repaired.columns),
    )
    res = ContractPipeline(pipeline.c).apply(df)
    assert "latitud" in res.report["schema_missing"]
    assert any("latitud" in w for w in res.report["recommended_warnings"])
    assert res.df.where("latitud is not null").count() == 0


def test_drifted_variant_dedup_and_extras(spark, pipeline):
    """FIXTURES §A variant 3: extra columns + duplicate business keys →
    keep-latest dedup; extras packing at the sink projection."""
    cols = [
        "codigo_iccs", "fecha_detencion_aprehension", "presunta_infraccion",
        "codigo_provincia", "nombre_provincia", "codigo_canton",
        "observaciones", "fiscalia",
    ]
    rows = [
        # same business key (iccs, fecha, prov, canton); later fecha wins…
        ("0201", "2024-05-01", "ROBO", "01", "Azuay", "0102", "obs1", None),
        ("0201", "2024-05-01", "ROBO AGRAVADO", "01", "Azuay", "0102", None, "F2"),
        ("0202", "2024-05-02", "HURTO", "01", "Azuay", "0102", "obs3", "F3"),
    ]
    df = spark.createDataFrame(rows, ", ".join(f"`{c}`: string" for c in cols))
    res = pipeline.apply(df)
    assert res.report["duplicates_business_key"] == 1
    assert res.report["dedup_rows_dropped"] == 1
    assert res.report["schema_extra"] == ["fiscalia", "observaciones"]
    out = pipeline.pack_extras(res.df, res.report["schema_extra"])
    assert "observaciones" not in out.columns
    packed = {r.codigo_iccs: r.extras for r in out.collect()}
    assert packed["0202"] == '{"fiscalia":"F3","observaciones":"obs3"}'


def test_critical_fail_fast(spark, pipeline):
    """FIXTURES §A variant 4: all-null critical column → TransformHardFail."""
    df = spark.createDataFrame(
        [("0101", "2024-01-01", None, "Azuay")],
        "`codigo_iccs`: string, `fecha_detencion_aprehension`: string, "
        "`presunta_infraccion`: string, `nombre_provincia`: string",
    )
    with pytest.raises(TransformHardFail, match="presunta_infraccion"):
        pipeline.apply(df)
    res = pipeline.apply(df, fail_fast=False)
    assert "presunta_infraccion" in res.report["critical_failures"]


def test_expected_columns_algebra(contract):
    exp = contract.expected_columns()
    assert "presunta_infraccion" in exp  # critical
    assert "latitud" in exp  # recommended
    assert "genero" in exp  # rename target
    assert "ano" in exp  # derived
    assert "codigo_iccs" in exp  # declared


def test_uuid5_surrogate_method(spark):
    """Contract with surrogate method uuid5 → bit-exact RFC-4122 v5 ids."""
    from gov_ec_pipeline_etl_spark.functions.ids import uuid5_py

    cfg = {
        "dataset": "t_uuid",
        "schema": {"columns": {"a": "string_codes", "b": "string_codes"}},
        "ids": {
            "business_key": {"fields": ["a", "b"]},
            "surrogate": {"method": "uuid5", "namespace": "t_uuid"},
        },
        "dedup": {"enforce_unique": True, "keep": "first"},
    }
    pipe = ContractPipeline(Contract.from_dict(cfg))
    df = spark.createDataFrame([("x", "y")], "a: string, b: string")
    row = pipe.apply(df).df.first()
    assert row.business_key == "x|y"
    assert row.surrogate_id == uuid5_py("t_uuid", "x|y")


def _keyed_contract(**dedup) -> ContractPipeline:
    """k is the business key, v the critical column; ``dedup`` keys
    override keep-latest by ``ts``."""
    return ContractPipeline(Contract.from_dict({
        "dataset": "t_report",
        "schema": {"columns": {"k": "string_codes", "v": "string_codes",
                               "ts": "datetime"}},
        "quality": {"critical": ["v"]},
        "ids": {"business_key": {"fields": ["k"]}},
        "dedup": {"enforce_unique": True, "keep": "latest", "order_by": "ts",
                  **dedup},
    }))


_KEYED_ROWS = [
    ("a", "1", "2024-01-01"), ("a", "2", "2024-01-03"), ("a", "3", "2024-01-02"),
    ("b", "4", "2024-01-01"), ("b", "5", "2024-01-02"),
    ("c", "6", "2024-01-01"),
    (None, None, None),  # all-null: dropped before the keys are drawn
]


def _keyed_df(spark, rows=_KEYED_ROWS):
    return spark.createDataFrame(rows, "k: string, v: string, ts: string")


def test_report_keep_latest(spark):
    """A key three times, a key twice, a unique key and an all-null row:
    the all-null row counts in rows_in only; two keys repeat, three rows
    are dropped and the latest row of each key is kept."""
    res = _keyed_contract().apply(_keyed_df(spark))
    assert res.report == {
        "dataset": "t_report", "rows_in": 7, "duplicates_business_key": 2,
        "dedup_rows_dropped": 3, "schema_missing": [], "schema_extra": [],
        "rows_out": 3, "critical_failures": [], "recommended_warnings": [],
    }
    kept = sorted(tuple(r) for r in res.df.select("k", "v").collect())
    assert kept == [("a", "2"), ("b", "5"), ("c", "6")]


@pytest.mark.parametrize("dedup, rows, counts", [
    ({"keep": "first"}, _KEYED_ROWS, (7, 2, 3, 3)),
    ({"enforce_unique": False}, _KEYED_ROWS, (7, 2, 0, 6)),
    ({}, _KEYED_ROWS[:3], (3, 1, 2, 1)),
    ({}, [], (0, 0, 0, 0)),
], ids=["keep_first", "not_unique", "one_key_thrice", "empty"])
def test_report_counts(spark, dedup, rows, counts):
    """(rows_in, duplicates_business_key, dedup_rows_dropped, rows_out),
    and the output holds rows_out rows."""
    res = _keyed_contract(**dedup).apply(_keyed_df(spark, rows), fail_fast=False)
    r = res.report
    assert (r["rows_in"], r["duplicates_business_key"], r["dedup_rows_dropped"],
            r["rows_out"]) == counts
    assert res.df.count() == counts[3]


def test_apply_runs_two_sql_executions(spark):
    """rows_in and one validation aggregate: no duplicate-key job and no
    post-dedup count."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    pipe, df = _keyed_contract(), _keyed_df(spark)
    bus.waitUntilEmpty()
    before = store.executionsCount()
    pipe.apply(df)
    bus.waitUntilEmpty()
    assert store.executionsCount() - before == 2


def test_missing_tiebreak_fails_before_the_critical_gate(spark):
    """A declared tiebreak absent from the frame raises ValueError, also
    when a critical column is empty too."""
    pipe = _keyed_contract(tiebreak="seq")
    with pytest.raises(ValueError, match="tiebreak"):
        pipe.apply(_keyed_df(spark, [("a", None, "2024-01-01")]))
