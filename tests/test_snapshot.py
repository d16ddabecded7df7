"""The stored-table snapshot protocol (``sinks/snapshot.py``) as the
index kinds and the IVM store use it: failed writes publish nothing,
readers keep their files across a publish, concurrent writers never
lose an update, and JSON state is replaced atomically."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import DataFrameWriter

from tests.conftest import SF_SMOKE


def _ngram_index(spark, tmp_path):
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import write_ngram_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma word{i} delta epsilon") for i in range(20)],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    write_ngram_index(docs, "doc_id", "text", idx)
    more = str(tmp_path / "more")
    spark.createDataFrame(
        [(900, "zeta eta theta iota kappa uniqword900")], ["doc_id", "text"]
    ).write.parquet(more)
    return idx, more


def _rows(frame):
    return sorted(tuple(r) for r in frame.collect())


def test_failed_index_append_or_compaction_keeps_previous_snapshot(
    spark, tmp_path, monkeypatch
):
    """A writer that dies after its files landed — mid-ingest or
    mid-compaction — leaves the previous snapshot current and readable,
    with no new directory anywhere in the index."""
    from gov_ec_pipeline_etl_spark.cli import main
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import read_ngram_index

    idx, more = _ngram_index(spark, tmp_path)
    before = _rows(read_ngram_index(spark, idx))
    layout = (sorted(os.listdir(idx)), sorted(os.listdir(idx + "/kept")))

    parquet = DataFrameWriter.parquet

    def write_then_die(self, path, *args, **kwargs):
        parquet(self, path, *args, **kwargs)
        raise RuntimeError("writer died after its files landed")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_die)
    for argv in (["index", "ingest", idx, more], ["index", "compact", idx]):
        with pytest.raises(RuntimeError, match="writer died"):
            main(argv)
        assert _rows(read_ngram_index(spark, idx)) == before, argv
        assert (sorted(os.listdir(idx)), sorted(os.listdir(idx + "/kept"))) == layout
    monkeypatch.undo()

    # the index is still writable: the retried ingest lands
    assert main(["index", "ingest", idx, more]) == 0
    assert 900 in {r[0] for r in _rows(read_ngram_index(spark, idx))}


def test_index_frame_resolved_before_publish_reads_all_rows(spark, tmp_path):
    """A probe resolved before an ingest or a compaction keeps reading
    the snapshot it resolved: deferred GC keeps the previous snapshot
    until the next publish, and no publish writes into it."""
    from gov_ec_pipeline_etl_spark.cli import main
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import read_ngram_index

    idx, more = _ngram_index(spark, tmp_path)
    before_ingest = read_ngram_index(spark, idx)
    rows0 = _rows(before_ingest)
    assert main(["index", "ingest", idx, more]) == 0
    assert _rows(before_ingest) == rows0  # none of the batch, all of the corpus

    before_compact = read_ngram_index(spark, idx)
    rows1 = _rows(before_compact)
    assert len(rows1) > len(rows0)
    assert main(["index", "compact", idx]) == 0
    assert _rows(before_compact) == rows1
    assert _rows(read_ngram_index(spark, idx)) == rows1


def test_index_without_pointer_fails_loudly(spark, tmp_path):
    """A data table written in place (no pointer) is rejected with the
    remedy — never scanned as an empty index."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import read_sketch_index

    idx = str(tmp_path / "idx")
    spark.createDataFrame([(1, 2)], "id bigint, h60 bigint").write.parquet(
        idx + "/sketch"
    )
    with pytest.raises(FileNotFoundError, match="rebuild"):
        read_sketch_index(spark, idx)


def test_ivm_concurrent_apply_is_not_lost(spark, tmp_path, monkeypatch):
    """Two applies that read the same version: the second is told it
    lost (ConcurrentWriterError) instead of silently overwriting — the
    ledger keeps both batches once retried, and old versions are
    collected rather than accumulating one directory per batch."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.operators import ivm
    from gov_ec_pipeline_etl_spark.sinks.snapshot import ConcurrentWriterError

    full = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    cut1 = F.lit("1996-01-01").cast("timestamp")
    cut2 = F.lit("1997-06-01").cast("timestamp")
    base = full.where(F.col("l_shipdate") < cut1)
    d1 = full.where((F.col("l_shipdate") >= cut1) & (F.col("l_shipdate") < cut2))
    d2 = full.where(F.col("l_shipdate") >= cut2)
    store = str(tmp_path / "store")
    ivm.init_store(
        spark, base, store, ["l_returnflag", "l_linestatus"], {"q": "l_quantity"}
    )

    agg = ivm._agg
    raced = []

    def agg_racing_a_second_writer(*args):
        if not raced:
            raced.append(None)
            try:  # b2 starts while b1 holds the version it read
                ivm.apply_delta(spark, d2, store, "b2")
            except ConcurrentWriterError as e:
                raced.append(e)
        return agg(*args)

    monkeypatch.setattr(ivm, "_agg", agg_racing_a_second_writer)
    first = ivm.apply_delta(spark, d1, store, "b1")
    monkeypatch.undo()
    assert isinstance(raced[-1], ConcurrentWriterError)
    assert first["applied"] == ["b1"]

    retried = ivm.apply_delta(spark, d2, store, "b2")
    assert retried["applied"] == ["b1", "b2"] and retried["current"] == 3
    assert ivm.verify_store(spark, full, store)["ok"]
    assert len([n for n in os.listdir(store) if not n.startswith("_")]) == 2


def test_json_writer_keeps_previous_file_on_failure(tmp_path):
    """A value json cannot serialize leaves the previous file intact and
    no temp file beside it — for the index meta and the ETL state."""
    from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
        _write_index_meta,
        read_index_meta,
    )
    from gov_ec_pipeline_etl_spark.sources.state import (
        ResourceState,
        load_state,
        save_state,
    )

    idx = tmp_path / "idx"
    idx.mkdir()
    _write_index_meta(str(idx), {"kind": "ngram", "k": 3})
    with pytest.raises(TypeError):
        _write_index_meta(str(idx), {"kind": "ngram", "k": object()})
    assert read_index_meta(str(idx)) == {"kind": "ngram", "k": 3}
    assert os.listdir(idx) == ["_meta.json"]

    state = tmp_path / "state" / "state.json"
    save_state(ResourceState({"r1": {"id": "r1"}}), str(state))
    with pytest.raises(TypeError):
        save_state(ResourceState({"r1": {"id": object()}}), str(state))
    assert load_state(str(state)).resources == {"r1": {"id": "r1"}}
    assert os.listdir(state.parent) == ["state.json"]
    assert json.loads(state.read_text()) == {"resources": {"r1": {"id": "r1"}}}


def test_one_module_publishes_stored_tables():
    """Renames and replaces of stored state live in the snapshot module
    only, and no sink mutates the session conf under its caller."""
    import gov_ec_pipeline_etl_spark as pkg

    root = os.path.dirname(pkg.__file__)
    found = []
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(d, f), root)
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                text = fh.read()
            if rel != os.path.join("sinks", "snapshot.py"):
                found += [(rel, s) for s in ("os.rename", "os.replace", ".old")
                          if s in text]
            if rel.startswith("sinks") and "spark.conf.set" in text:
                found.append((rel, "spark.conf.set"))
    assert found == []


def test_u14_u17_build_their_index_under_the_staging_root(spark, monkeypatch):
    """u14 and u17 build their n-gram index under the per-process
    staging root (removed at exit), not in a temp dir that outlives the
    run."""
    from gov_ec_pipeline_etl_spark.operators import dedup_fuzzy
    from gov_ec_pipeline_etl_spark.plans import all_queries
    from gov_ec_pipeline_etl_spark.streaming.staging import session_staging_dir

    built = []
    write = dedup_fuzzy.write_ngram_index

    def recording(df, id_col, text_col, path, *args, **kwargs):
        built.append(path)
        return write(df, id_col, text_col, path, *args, **kwargs)

    monkeypatch.setattr(dedup_fuzzy, "write_ngram_index", recording)
    for name in ("u14_ngram_index_pairs", "u17_ngram_incremental"):
        all_queries()[name].spark(spark, SF_SMOKE)
    root = os.path.dirname(session_staging_dir("probe"))
    assert len(built) == 2
    assert all(os.path.dirname(p) == root and os.path.isdir(p) for p in built)
