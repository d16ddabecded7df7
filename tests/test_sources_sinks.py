"""State diff scenarios (FIXTURES.md §D), upsert idempotency, audit
protocol, artifact oversize policy, and the full pipeline with
commit-gated state promotion."""

from __future__ import annotations

import json
import os

import pytest

from gov_ec_pipeline_etl_spark.sinks.artifacts import upload_tree
from gov_ec_pipeline_etl_spark.sinks.audit import AuditLedger
from gov_ec_pipeline_etl_spark.sinks.upsert import read_table, upsert_parquet
from gov_ec_pipeline_etl_spark.sources.state import (
    ResourceState,
    diff_resources,
    load_state,
    save_state,
    seed_state,
)

RES = {
    "id": "r1",
    "last_modified": "2025-01-01T00:00:00Z",
    "size": 123,
    "url": "https://x/f.xlsx",
    "format": "XLSX",
}


def test_state_diff_scenarios(tmp_path):
    # missing state → everything new
    todo, unchanged, reasons = diff_resources([RES], ResourceState.empty())
    assert [r["id"] for r in todo] == ["r1"] and reasons["r1"] == ["new"]

    st = seed_state([RES])
    # unchanged fingerprint → zero work
    todo, unchanged, _ = diff_resources([RES], st)
    assert todo == [] and [r["id"] for r in unchanged] == ["r1"]

    # timestamp normalization: same instant, different rendering → unchanged
    res2 = dict(RES, last_modified="2025-01-01T05:00:00+05:00")
    todo, unchanged, _ = diff_resources([res2], st)
    assert todo == []

    # one field changed per kind → reasons list
    for field, val in [
        ("last_modified", "2025-02-02T00:00:00Z"),
        ("size", 999),
        ("url", "https://x/g.xlsx"),
        ("format", "CSV"),
    ]:
        todo, _, reasons = diff_resources([dict(RES, **{field: val})], st)
        assert reasons["r1"] == [field], field

    # round-trip persistence (atomic write)
    p = str(tmp_path / "state.json")
    save_state(st, p)
    assert load_state(p).resources == st.resources
    assert load_state(str(tmp_path / "missing.json")) is None  # stateless mode


def test_upsert_idempotent(spark, tmp_path):
    target = str(tmp_path / "table")
    df1 = spark.createDataFrame(
        [("a", 1), ("b", 2)], "surrogate_id: string, v: bigint"
    )
    m1 = upsert_parquet(spark, df1, target)
    assert m1 == {"rows_upserted": 2, "rows_matched": 0, "rows_inserted": 2}
    # same batch again → idempotent
    m2 = upsert_parquet(spark, df1, target)
    assert m2["rows_matched"] == 2 and m2["rows_inserted"] == 0
    assert read_table(spark, target).count() == 2
    # update one, insert one
    df2 = spark.createDataFrame(
        [("b", 20), ("c", 3)], "surrogate_id: string, v: bigint"
    )
    upsert_parquet(spark, df2, target)
    rows = {r.surrogate_id: r.v for r in read_table(spark, target).collect()}
    assert rows == {"a": 1, "b": 20, "c": 3}


def test_audit_protocol(tmp_path):
    led = AuditLedger(str(tmp_path / "audit"))
    led.open_run("run1")
    assert led.runs()["run1"]["status"] == "error"  # crash-honest placeholder
    led.record_resource("run1", "r1", {"rows_in": 5, "rows_out": 4})
    led.close_run("run1", "ok", {"rows_in_total": 5})
    final = led.runs()["run1"]
    assert final["status"] == "ok" and final["rows_in_total"] == 5


def test_artifact_oversize_policy(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "small.txt").write_text("hello")
    (src / "big.bin").write_bytes(b"x" * 2_000_000)
    dest = tmp_path / "dest"
    results = upload_tree(str(src), str(dest), max_mb=1.0, mode="manifest")
    by_status = {os.path.basename(r["file"]): r["status"] for r in results}
    assert by_status == {"small.txt": "uploaded", "big.bin": "manifest"}
    manifest = json.loads((dest / "big.bin.oversize.json").read_text())
    assert manifest["size"] == 2_000_000 and len(manifest["sha256"]) == 64
    with pytest.raises(ValueError):
        upload_tree(str(src), str(dest), max_mb=0.001, mode="strict")


_ETL_CHILD = """
import json, sys
from gov_ec_pipeline_etl_spark.etl_pipeline import run_etl
from gov_ec_pipeline_etl_spark.session import get_spark
cfg, res, work = sys.argv[1], json.loads(sys.argv[2]), sys.argv[3]
r = run_etl(get_spark("etl-width"), cfg, res, work)
print(json.dumps({"status": r.status, "rows_out": r.reports["r"]["rows_out"]}))
"""


def test_reference_width_load_finishes(tmp_path):
    """A two-row resource carrying all 36 raw contract columns of the
    reference (every declared column but the derived ``ano``) loads
    through ``run_etl`` within the wall bound. The load runs in its own
    process, so a plan that never finishes fails the test, rather than
    hanging the suite: with ``na.drop(how="all")`` planning grew without
    bound from about 20 columns on."""
    import subprocess
    import sys

    import pandas as pd

    from gov_ec_pipeline_etl_spark.contract.loader import load_config

    root = os.path.join(os.path.dirname(__file__), "..")
    cfg = os.path.join(root, "configs", "detenidos.yaml")
    kinds = load_config(cfg)["schema"]["columns"]
    sample = {
        "datetime": ["2024-01-01", "2024-01-02"],
        "numeric": ["30", "41"],
        "string_codes": ["0101", "0901"],
        "category": ["Detenido", "Aprehendido"],
    }
    cols = {c: sample[k] for c, k in kinds.items() if c != "ano"}
    cols["latitud"], cols["longitud"] = ["-2.9", "-2.2"], ["-79.0", "-79.9"]
    assert len(cols) == 36
    csv = tmp_path / "wide.csv"
    pd.DataFrame(cols).to_csv(csv, index=False)
    res = [{"id": "r", "path": str(csv), "last_modified": "x",
            "size": os.path.getsize(csv), "url": "file://r", "format": "CSV"}]
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PYTHONPATH=os.path.abspath(root))
    try:
        out = subprocess.run(
            [sys.executable, "-c", _ETL_CHILD, cfg, json.dumps(res),
             str(tmp_path / "work")],
            capture_output=True, text=True, env=env, timeout=150,
        )
    except subprocess.TimeoutExpired:
        pytest.fail("the 36-column load gave no result within 150 s")
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {
        "status": "ok", "rows_out": 2,
    }


def test_full_pipeline_incremental(spark, tmp_path):
    """Two runs: second run skips unchanged resources; failed transform
    does not promote state."""
    import pandas as pd

    from gov_ec_pipeline_etl_spark.etl_pipeline import run_etl

    work = str(tmp_path / "work")
    csv = tmp_path / "r1.csv"
    pd.DataFrame(
        {
            "Código ICCS": ["0101", "0102"],
            "Fecha Detención Aprehensión": ["2024-01-01", "2024-01-02"],
            "Presunta Infracción": ["ROBO", "HURTO"],
            "Nombre Provincia": ["Azuay", "Guayas"],
            "Código Provincia": ["01", "09"],
            "Código Cantón": ["0101", "0901"],
        }
    ).to_csv(csv, index=False)
    res = [
        {
            "id": "r1",
            "path": str(csv),
            "last_modified": "2025-01-01T00:00:00Z",
            "size": 1,
            "url": "file://r1",
            "format": "CSV",
        }
    ]
    cfg = os.path.join(
        os.path.dirname(__file__), "..", "configs", "detenidos.yaml"
    )
    r1 = run_etl(spark, cfg, res, work)
    assert r1.status == "ok"
    assert r1.reports["r1"]["rows_out"] == 2
    assert r1.upsert_metrics["r1"]["rows_inserted"] == 2

    # run again, nothing changed → zero work, state intact
    r2 = run_etl(spark, cfg, res, work)
    assert r2.skipped_unchanged == ["r1"] and r2.reports == {}

    # changed resource with a critical failure → error, state NOT promoted
    pd.DataFrame(
        {
            "Código ICCS": ["0103"],
            "Fecha Detención Aprehensión": ["2024-01-03"],
            "Presunta Infracción": [None],
            "Nombre Provincia": ["Azuay"],
        }
    ).to_csv(csv, index=False)
    res_changed = [dict(res[0], size=2)]
    with pytest.raises(Exception, match="presunta_infraccion"):
        run_etl(spark, cfg, res_changed, work)
    state = json.loads((tmp_path / "work" / "state.json").read_text())
    assert state["resources"]["r1"]["size"] == 1  # old fingerprint kept
    # table unchanged by the failed run
    from gov_ec_pipeline_etl_spark.sinks.upsert import read_table

    table_dir = os.path.join(work, "table", "detenidos_aprehendidos")
    assert read_table(spark, table_dir).count() == 2


def test_pick_excel_sheets_semantics():
    """Reference S5 sheet selection: numeric-named sheets not blacklisted,
    else first non-blacklisted, else first."""
    from gov_ec_pipeline_etl_spark.sources.ingest import pick_excel_sheets

    assert pick_excel_sheets(["Contenido", "1", "2", "Notas"]) == ["1", "2"]
    assert pick_excel_sheets(["Contenido", "Notas"]) == ["Notas"]
    assert pick_excel_sheets(["Contenido"]) == ["Contenido"]
    assert pick_excel_sheets(["Datos", "3"]) == ["3"]


def test_upsert_partitioned_pruning(spark, tmp_path):
    """partition_by mirrors the reference's index intent: a filter on the
    partition column must prune at scan time (PartitionFilters), not
    post-scan."""
    target = str(tmp_path / "ptable")
    df = spark.createDataFrame(
        [("a", 2023, 1.0), ("b", 2024, 2.0), ("c", 2024, 3.0)],
        "surrogate_id: string, ano: int, v: double",
    )
    upsert_parquet(spark, df, target, partition_by=["ano"])
    t = read_table(spark, target)
    assert {r.surrogate_id for r in t.where("ano = 2024").collect()} == {"b", "c"}
    plan = t.where("ano = 2024")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(ano" in plan or "ano#" in plan
    # second upsert keeps partitioning + merge semantics (same-partition
    # update + new-partition insert; the partition-scoped path is the
    # default because partition columns are key-stable in the contract)
    df2 = spark.createDataFrame(
        [("b", 2024, 20.0), ("d", 2025, 4.0)],
        "surrogate_id: string, ano: int, v: double",
    )
    m = upsert_parquet(spark, df2, target, partition_by=["ano"])
    assert m["rows_matched"] == 1 and m["rows_inserted"] == 1
    assert m["partitions_rewritten"] == 2
    rows = {r.surrogate_id: (r.ano, r.v) for r in read_table(spark, target).collect()}
    assert rows == {
        "a": (2023, 1.0),
        "b": (2024, 20.0),
        "c": (2024, 3.0),
        "d": (2025, 4.0),
    }


def test_upsert_partition_scoped_merge_prunes_io(spark, tmp_path):
    """The partition-scoped merge must neither READ nor REWRITE
    untouched partitions: the 100 TB property (O(touched) weekly load,
    VERDICT round-1 item 3)."""
    import glob
    import os

    target = str(tmp_path / "ptable")
    df = spark.createDataFrame(
        [("a", 2023, 1.0), ("b", 2024, 2.0)],
        "surrogate_id: string, ano: int, v: double",
    )
    upsert_parquet(spark, df, target, partition_by=["ano"])
    snap = glob.glob(os.path.join(target, "snapshot_*"))[0]
    untouched_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(snap, "ano=2023", "*.parquet"))
    }
    assert untouched_files

    # the scan the merge performs: current filtered to touched tuples —
    # partition pruning must keep untouched files out of the plan
    from gov_ec_pipeline_etl_spark.sinks.upsert import (
        _touched_partition_filter,
    )

    upd = spark.createDataFrame(
        [("b", 2024, 20.0)], "surrogate_id: string, ano: int, v: double"
    )
    pred, n_touched = _touched_partition_filter(upd, ["ano"])
    assert n_touched == 1
    pruned = spark.read.parquet(snap).where(pred)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024" in plan
    # the pruned scan must enumerate strictly fewer files than the table
    n_all = len(spark.read.parquet(snap).inputFiles())
    n_scan = pruned.withColumn(
        "f", __import__("pyspark.sql.functions", fromlist=["x"]).input_file_name()
    ).select("f").distinct().count()
    assert n_scan < n_all

    m = upsert_parquet(spark, upd, target, partition_by=["ano"])
    assert m["partitions_rewritten"] == 1
    # untouched partition directory byte-identical (not rewritten)
    for p, mtime in untouched_files.items():
        assert os.path.getmtime(p) == mtime, p
    rows = {r.surrogate_id: r.v for r in read_table(spark, target).collect()}
    assert rows == {"a": 1.0, "b": 20.0}


def test_upsert_partition_move_requires_full_merge(spark, tmp_path):
    """A key changing partition value is only legal through the
    full-merge fallback (partition columns are business-key components
    in the contract, so the scoped path assumes they are stable)."""
    target = str(tmp_path / "ptable")
    df = spark.createDataFrame(
        [("a", 2023, 1.0), ("b", 2024, 2.0)],
        "surrogate_id: string, ano: int, v: double",
    )
    upsert_parquet(spark, df, target, partition_by=["ano"])
    mover = spark.createDataFrame(
        [("b", 2025, 20.0)], "surrogate_id: string, ano: int, v: double"
    )
    upsert_parquet(
        spark, mover, target, partition_by=["ano"], allow_partition_move=True
    )
    rows = {r.surrogate_id: r.ano for r in read_table(spark, target).collect()}
    assert rows == {"a": 2023, "b": 2025}


def test_upsert_snapshot_gc_deferred(spark, tmp_path):
    """The previous snapshot must survive the pointer swap (readers that
    resolved the old pointer finish their scan); older generations are
    GC'd on the next upsert."""
    import glob
    import os

    target = str(tmp_path / "table")
    df = spark.createDataFrame([("a", 1)], "surrogate_id: string, v: bigint")
    upsert_parquet(spark, df, target)
    upsert_parquet(spark, df, target)
    snaps = sorted(glob.glob(os.path.join(target, "snapshot_*")))
    assert len(snaps) == 2  # current + previous kept
    upsert_parquet(spark, df, target)
    snaps3 = sorted(glob.glob(os.path.join(target, "snapshot_*")))
    assert len(snaps3) == 2  # oldest generation collected


def test_pipeline_reader_failure_keeps_state(spark, tmp_path):
    """A resource whose file is missing fails the run (audit closed as
    error) and does NOT promote state or touch the table."""
    import pytest as _pytest

    from gov_ec_pipeline_etl_spark.etl_pipeline import run_etl
    from gov_ec_pipeline_etl_spark.sinks.audit import AuditLedger

    cfg = os.path.join(
        os.path.dirname(__file__), "..", "configs", "detenidos.yaml"
    )
    work = str(tmp_path / "work")
    res = [{"id": "gone", "path": str(tmp_path / "missing.csv"),
            "last_modified": "2025-01-01T00:00:00Z", "size": 1,
            "url": "file://gone", "format": "CSV"}]
    with _pytest.raises(Exception):
        run_etl(spark, cfg, res, work)
    assert not os.path.exists(os.path.join(work, "state.json"))
    runs = AuditLedger(os.path.join(work, "audit")).runs()
    assert len(runs) == 1
    assert list(runs.values())[0]["status"] == "error"


def test_compact_partitions(spark, tmp_path):
    """Repeated partition-scoped merges accumulate one file set per
    load; compaction rewrites the snapshot to N files per partition and
    preserves contents."""
    from gov_ec_pipeline_etl_spark.sinks.upsert import compact_partitions

    target = str(tmp_path / "ptable")
    for i in range(4):
        df = spark.createDataFrame(
            [(f"k{i}", 2024, float(i))],
            "surrogate_id: string, ano: int, v: double",
        )
        upsert_parquet(spark, df, target, partition_by=["ano"])
    before = read_table(spark, target)
    n_files_before = len(before.inputFiles())
    assert n_files_before > 1
    rows_before = {r.surrogate_id: r.v for r in before.collect()}

    m = compact_partitions(spark, target, partition_by=["ano"])
    assert m["files_before"] == n_files_before
    assert m["files_after"] < n_files_before
    after = read_table(spark, target)
    assert {r.surrogate_id: r.v for r in after.collect()} == rows_before


def test_streaming_upsert_sink(spark, tmp_path):
    """foreachBatch MERGE: a replayed stream (same checkpoint removed →
    all files reprocessed) converges to the same table state because the
    per-batch upsert is idempotent — streaming CDC semantics of W2."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.sinks.upsert import streaming_upsert_sink

    src = tmp_path / "incoming"
    src.mkdir()
    target = str(tmp_path / "table")
    spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "surrogate_id: string, v: double"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch1"))

    stream = (
        spark.readStream.schema("surrogate_id string, v double")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = streaming_upsert_sink(
        stream,
        target,
        key="surrogate_id",
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    q.awaitTermination(120)
    assert {r.surrogate_id: r.v for r in read_table(spark, target).collect()} == {
        "a": 1.0,
        "b": 2.0,
    }

    # second delivery: an update for b and a new key c, plus a REPLAY of
    # batch1 through a fresh checkpoint (at-least-once) — state converges
    spark.createDataFrame(
        [("b", 20.0), ("c", 3.0)], "surrogate_id: string, v: double"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch2"))
    stream2 = (
        spark.readStream.schema("surrogate_id string, v double")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q2 = streaming_upsert_sink(
        stream2,
        target,
        key="surrogate_id",
        checkpoint_dir=str(tmp_path / "ckpt2"),  # fresh: replays batch1 too
    )
    q2.awaitTermination(120)
    rows = {r.surrogate_id: r.v for r in read_table(spark, target).collect()}
    assert rows["c"] == 3.0 and set(rows) == {"a", "b", "c"}


def test_upsert_empty_batch_is_noop(spark, tmp_path):
    """An empty update batch must not rewrite snapshots (and must not
    crash the partition-scoped path deriving its touched-tuple filter)."""
    import glob
    import os

    target = str(tmp_path / "ptable")
    df = spark.createDataFrame(
        [("a", 2023, 1.0)], "surrogate_id: string, ano: int, v: double"
    )
    upsert_parquet(spark, df, target, partition_by=["ano"])
    files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(target, "snapshot_*", "**", "*.parquet"),
                           recursive=True)
    }
    empty = df.where("1 = 0")
    m = upsert_parquet(spark, empty, target, partition_by=["ano"])
    assert m == {"rows_upserted": 0, "rows_matched": 0, "rows_inserted": 0}
    for p, mtime in files.items():
        assert os.path.getmtime(p) == mtime
    assert read_table(spark, target).count() == 1


def test_upsert_crash_before_pointer_swap_preserves_table(spark, tmp_path):
    """Crash-safety of the snapshot protocol: a writer that dies after
    writing the new snapshot directory but BEFORE the pointer swap
    leaves readers on the previous consistent table; the next
    successful upsert garbage-collects the orphan."""
    import glob
    import os

    target = str(tmp_path / "table")
    df = spark.createDataFrame([("a", 1)], "surrogate_id: string, v: bigint")
    upsert_parquet(spark, df, target)

    # simulate the dying writer: full snapshot directory, no swap
    orphan = os.path.join(target, "snapshot_deadbeef0000")
    spark.createDataFrame(
        [("zz", 99)], "surrogate_id: string, v: bigint"
    ).write.parquet(orphan)
    assert {r.surrogate_id for r in read_table(spark, target).collect()} == {"a"}

    df2 = spark.createDataFrame([("b", 2)], "surrogate_id: string, v: bigint")
    upsert_parquet(spark, df2, target)
    assert {r.surrogate_id for r in read_table(spark, target).collect()} == {
        "a",
        "b",
    }
    assert not os.path.exists(orphan)  # orphan collected by the next GC


def test_upsert_partitioned_crash_preserves_snapshot(spark, tmp_path, monkeypatch):
    """Partitioned merges get the same snapshot + pointer-swap + deferred
    GC protocol as unpartitioned ones: a writer dying between the new
    snapshot's write and the pointer swap leaves readers on the previous
    consistent table (untouched partitions hard-linked, touched ones
    rewritten in the NEW directory only), and the orphan is collected by
    the next successful merge."""
    import glob
    import os

    from gov_ec_pipeline_etl_spark.sinks import upsert as up

    target = str(tmp_path / "ptable")
    df = spark.createDataFrame(
        [("a", 2023, 1.0), ("b", 2024, 2.0)],
        "surrogate_id: string, ano: int, v: double",
    )
    upsert_parquet(spark, df, target, partition_by=["ano"])
    snap0 = up._current_snapshot(target)
    files0 = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(snap0, "**", "*.parquet"), recursive=True)
    }

    def boom(*a, **k):
        raise RuntimeError("crash before pointer swap")

    monkeypatch.setattr(up, "_swap_pointer", boom)
    upd = spark.createDataFrame(
        [("b", 2024, 20.0)], "surrogate_id: string, ano: int, v: double"
    )
    with pytest.raises(RuntimeError, match="crash"):
        upsert_parquet(spark, upd, target, partition_by=["ano"])
    monkeypatch.undo()

    # reader still on the old consistent snapshot, bytes untouched
    assert up._current_snapshot(target) == snap0
    rows = {r.surrogate_id: r.v for r in read_table(spark, target).collect()}
    assert rows == {"a": 1.0, "b": 2.0}
    for p, mtime in files0.items():
        assert os.path.getmtime(p) == mtime, p

    # next successful merge converges and collects the orphan
    m = upsert_parquet(spark, upd, target, partition_by=["ano"])
    assert m["rows_matched"] == 1
    rows = {r.surrogate_id: r.v for r in read_table(spark, target).collect()}
    assert rows == {"a": 1.0, "b": 20.0}
    snaps = glob.glob(os.path.join(target, "snapshot_*"))
    assert len(snaps) == 2  # current + previous; orphan gone


def test_upsert_partition_move_guard(spark, tmp_path):
    """verify_no_partition_move audits the scoped path's precondition:
    an update whose key matches a row OUTSIDE the touched partitions
    raises PartitionMoveError instead of silently duplicating the key."""
    from gov_ec_pipeline_etl_spark.sinks.upsert import PartitionMoveError

    target = str(tmp_path / "ptable")
    df = spark.createDataFrame(
        [("a", 2023, 1.0), ("b", 2024, 2.0)],
        "surrogate_id: string, ano: int, v: double",
    )
    upsert_parquet(spark, df, target, partition_by=["ano"])

    stable = spark.createDataFrame(
        [("b", 2024, 20.0)], "surrogate_id: string, ano: int, v: double"
    )
    m = upsert_parquet(
        spark, stable, target, partition_by=["ano"], verify_no_partition_move=True
    )
    assert m["rows_matched_outside_touched"] == 0

    mover = spark.createDataFrame(
        [("b", 2025, 30.0)], "surrogate_id: string, ano: int, v: double"
    )
    with pytest.raises(PartitionMoveError, match="1 update key"):
        upsert_parquet(
            spark, mover, target, partition_by=["ano"], verify_no_partition_move=True
        )
    # repair path the error message prescribes
    upsert_parquet(
        spark, mover, target, partition_by=["ano"], allow_partition_move=True
    )
    rows = {(r.surrogate_id, r.ano) for r in read_table(spark, target).collect()}
    assert rows == {("a", 2023), ("b", 2025)}


def test_compact_partitions_multiple_files(spark, tmp_path):
    """files_per_partition > 1 must actually yield >1 file per partition
    directory (salted repartition; a bare repartition on the partition
    columns lands each tuple in one task and so one file)."""
    import glob
    import os

    from gov_ec_pipeline_etl_spark.sinks.upsert import compact_partitions

    target = str(tmp_path / "ptable")
    df = spark.createDataFrame(
        [(f"k{i}", 2024, float(i)) for i in range(40)],
        "surrogate_id: string, ano: int, v: double",
    ).repartition(8)
    upsert_parquet(spark, df, target, partition_by=["ano"])
    rows_before = {r.surrogate_id: r.v for r in read_table(spark, target).collect()}

    compact_partitions(spark, target, partition_by=["ano"], files_per_partition=2)
    snap = read_table(spark, target)
    part_files = glob.glob(
        os.path.join(target, "snapshot_*", "ano=2024", "*.parquet")
    )
    # two generations may exist; count only the current snapshot's dir
    from gov_ec_pipeline_etl_spark.sinks import upsert as up

    cur = up._current_snapshot(target)
    cur_files = [p for p in part_files if p.startswith(cur)]
    assert len(cur_files) == 2
    assert {r.surrogate_id: r.v for r in snap.collect()} == rows_before


def test_merge_paths_converge_property(spark, tmp_path):
    """PROPERTY (VERDICT r2 #6): the partition-scoped merge and the
    full-rewrite merge are the same MERGE. For any sequence of update
    batches whose partition column is a stable function of the key (the
    scoped path's contract), applying the sequence through both paths —
    and through a plain dict replay — converges to identical tables."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    keys = st.sampled_from(list("abcdef"))
    batch = st.lists(
        st.tuples(keys, st.floats(allow_nan=False, allow_infinity=False,
                                  width=32)),
        min_size=0, max_size=6,
    )
    seqs = st.lists(batch, min_size=1, max_size=4)

    case = [0]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(seq=seqs)
    def run(seq):
        case[0] += 1
        scoped = str(tmp_path / f"scoped_{case[0]}")
        full = str(tmp_path / f"full_{case[0]}")
        expect = {}
        for b in seq:
            rows = [(k, 2020 + ord(k) % 3, v) for k, v in b]
            for k, ano, v in rows:
                expect[k] = (ano, v)  # keep-LAST within the replay...
            # ...but upsert dedups keep-FIRST within one batch: mirror it
            seen, first = set(), []
            for r in rows:
                if r[0] not in seen:
                    seen.add(r[0])
                    first.append(r)
            expect.update({k: (a, v) for k, a, v in first})
            df = spark.createDataFrame(
                rows, "surrogate_id: string, ano: int, v: float"
            )
            upsert_parquet(spark, df, scoped, partition_by=["ano"])
            upsert_parquet(
                spark, df, full, partition_by=["ano"], allow_partition_move=True
            )
        got_scoped = {
            r.surrogate_id: (r.ano, r.v)
            for r in (read_table(spark, scoped) or spark.createDataFrame(
                [], "surrogate_id: string, ano: int, v: float")).collect()
        }
        got_full = {
            r.surrogate_id: (r.ano, r.v)
            for r in (read_table(spark, full) or spark.createDataFrame(
                [], "surrogate_id: string, ano: int, v: float")).collect()
        }
        assert got_scoped == got_full == expect

    run()


def test_ckan_datasource_feeds_etl_end_to_end(spark, tmp_path):
    """Catalog-to-table through the Spark-native source: the ckan
    DataSource scans the catalog, resources download over HTTP, and
    run_etl ingests them — the reference's full extract path with the
    catalog step as a declarative Spark scan."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from gov_ec_pipeline_etl_spark.etl_pipeline import run_etl
    from gov_ec_pipeline_etl_spark.sources.catalog import download_resource
    from gov_ec_pipeline_etl_spark.sources.spark_datasource import CkanDataSource

    csv_body = (
        "Código ICCS,Fecha Detención Aprehensión,Presunta Infracción,"
        "Nombre Provincia,Código Provincia,Código Cantón\n"
        "0101,2024-01-01,ROBO,Azuay,01,0101\n"
        "0102,2024-01-02,HURTO,Guayas,09,0901\n"
    ).encode("utf-8")

    class H(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path.startswith("/api/3/action/package_show"):
                pkg = {
                    "success": True,
                    "result": {
                        "resources": [
                            {
                                "id": "detenciones_2024",
                                "name": "Detenciones 2024",
                                "url": f"http://127.0.0.1:{self.server.server_port}/data.csv",
                                "format": "CSV",
                                "last_modified": "2025-01-01T00:00:00",
                                "size": len(csv_body),
                            }
                        ]
                    },
                }
                body = _json.dumps(pkg).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)
            elif self.path == "/data.csv":
                self.send_response(200)
                self.send_header("Content-Length", str(len(csv_body)))
                self.end_headers()
                self.wfile.write(csv_body)
            else:
                self.send_response(404)
                self.end_headers()

        def log_message(self, *a):
            pass

    httpd = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        spark.dataSource.register(CkanDataSource)
        catalog = (
            spark.read.format("ckan")
            .option("base_url", f"http://127.0.0.1:{httpd.server_port}")
            .option("package_id", "pkg")
            .load()
            .collect()
        )
        resources = []
        for r in catalog:
            dest = str(tmp_path / f"{r.resource_id}.csv")
            n = download_resource(r.url, dest)
            assert n == len(csv_body)
            resources.append(
                {
                    "id": r.resource_id,
                    "path": dest,
                    "last_modified": r.last_modified,
                    "size": r.size,
                    "url": r.url,
                    "format": r.format,
                }
            )
        cfg = os.path.join(
            os.path.dirname(__file__), "..", "configs", "detenidos.yaml"
        )
        out = run_etl(spark, cfg, resources, str(tmp_path / "work"))
        assert out.status == "ok"
        assert out.reports["detenciones_2024"]["rows_out"] == 2
    finally:
        httpd.shutdown()


def test_concurrent_writer_lock_serializes(spark, tmp_path):
    """Two simultaneous merges on one target: the second fails CLEANLY
    with ConcurrentWriterError while the lock is held — never a silent
    last-writer-wins that drops a merge (VERDICT r3 #6). The lock is a
    kernel flock: held = flocked, not file-exists."""
    import fcntl

    from gov_ec_pipeline_etl_spark.sinks.upsert import (
        _LOCK,
        ConcurrentWriterError,
    )

    target = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a")], "surrogate_id int, v string")
    upsert_parquet(spark, df1, target)

    # writer A holds the flock (separate fd: flock is per open file
    # description, so this contends even within one process)
    lock = os.path.join(target, _LOCK)
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    os.ftruncate(fd, 0)
    os.write(fd, str(os.getpid()).encode())
    df2 = spark.createDataFrame([(2, "b")], "surrogate_id int, v string")
    try:
        with pytest.raises(ConcurrentWriterError, match="held by live pid"):
            upsert_parquet(spark, df2, target)
        # the losing merge published nothing
        assert [r.v for r in read_table(spark, target).collect()] == ["a"]
    finally:
        os.close(fd)  # releases the flock

    # lock free again: the retried merge proceeds
    m = upsert_parquet(spark, df2, target)
    assert m["rows_inserted"] == 1
    assert sorted(r.v for r in read_table(spark, target).collect()) == ["a", "b"]


def test_writer_lock_crashed_holder_auto_releases(spark, tmp_path):
    """A writer that dies mid-merge must not wedge the table: flock
    ownership lives in the kernel and evaporates with the process —
    there is no stale lockfile to detect, break, or race over (the
    failure family the previous existence-based scheme mitigated case
    by case; code-review r5 showed its break protocol still had an
    unfixable vacant-path window)."""
    import subprocess
    import sys

    from gov_ec_pipeline_etl_spark.sinks.upsert import _LOCK

    target = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a")], "surrogate_id int, v string")
    upsert_parquet(spark, df1, target)
    lock = os.path.join(target, _LOCK)

    # a holder acquires the flock, then crashes (exits without release)
    subprocess.run(
        [sys.executable, "-c",
         "import fcntl, os, sys;"
         f"fd = os.open({lock!r}, os.O_CREAT | os.O_RDWR);"
         "fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB);"
         "os.write(fd, b'99999999')"],
        check=True,
    )
    # kernel released the lock at process exit; the merge just proceeds
    df2 = spark.createDataFrame([(2, "b")], "surrogate_id int, v string")
    m = upsert_parquet(spark, df2, target)
    assert m["rows_inserted"] == 1
    assert sorted(r.v for r in read_table(spark, target).collect()) == ["a", "b"]


def test_writer_lock_content_is_diagnostics_only(spark, tmp_path):
    """Garbled/leftover lockfile CONTENT can never cause a wrong
    decision: with flock, held-ness is a kernel fact, so a crash's
    leftover pid bytes (or junk) on an UNLOCKED file must not block a
    merge — the previous scheme refused on unreadable owners because
    the content WAS the lock."""
    from gov_ec_pipeline_etl_spark.sinks.upsert import _LOCK

    target = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a")], "surrogate_id int, v string")
    upsert_parquet(spark, df1, target)
    lock = os.path.join(target, _LOCK)
    for content in ("", "junk", "0", "-5", "99999999"):
        with open(lock, "w", encoding="utf-8") as f:
            f.write(content)
        df2 = spark.createDataFrame(
            [(2, content or "empty")], "surrogate_id int, v string"
        )
        m = upsert_parquet(spark, df2, target)
        assert m["rows_upserted"] == 1


def test_pointer_cas_rejects_moved_pointer(spark, tmp_path):
    """If the pointer moved between a merge's read and its swap (the
    advisory lock was wrongly broken), the swap fails and the half-built
    snapshot is removed — the winner's state is never overwritten."""
    from gov_ec_pipeline_etl_spark.sinks.upsert import (
        ConcurrentWriterError,
        _current_snapshot,
        _swap_pointer,
    )

    target = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a")], "surrogate_id int, v string")
    upsert_parquet(spark, df1, target)
    winner = os.path.basename(_current_snapshot(target))

    loser = os.path.join(target, "snapshot_loser")
    os.makedirs(loser)
    with pytest.raises(ConcurrentWriterError, match="pointer moved"):
        _swap_pointer(target, "snapshot_loser", expect="snapshot_stale_read")
    assert not os.path.exists(loser)  # half-built snapshot cleaned up
    assert os.path.basename(_current_snapshot(target)) == winner
