"""Workload table and seeded inputs.

Each workload is a list of operations run one after another (closed loop,
one client). Inputs are generated from the seed and cached per seed under
``perfbench/.work/data``; the program reads only the generated files.
The DuckDB oracle's result for every query is computed once per seed and
cached next to the data, so a run's output check costs a comparison, not
an oracle replay. Both caches are keyed by a digest of what produced them
(the generator's source; a query's oracle SQL and the oracle module), so
a change to either is never checked against a stale cache.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import os
import shutil
import sys
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "query" or "etl"
    ops: tuple[str, ...] = ()
    sf: float = 0.0


WORKLOADS = {
    w.name: w
    for w in [
        # Plan execution: scans, joins, aggregations and sorts over a star
        # schema. No operation starts a job while its plan is built.
        Workload(
            "relational", "query",
            ops=(
                "q01_pricing_summary", "q04_order_priority",
                "q05_region_revenue", "q14_range_join",
                "q20_topk_per_group",
            ),
            sf=0.1,
        ),
        # Plan construction: an LLM-curation operator whose plan starts
        # persist/count barrier jobs while it is built, and a stateful
        # stream replay that runs its micro-batches inside plan
        # construction.
        Workload(
            "curation", "query",
            ops=("u46_line_dedup", "st03_streaming_dedup"),
            sf=0.01,
        ),
        # The reference's job: run_etl over detenidos-shaped CSV resources
        # at the reference's width, a load into an empty table, then a
        # merge of one changed resource.
        Workload("etl", "etl", ops=("load", "merge")),
    ]
}

ETL_ROWS = 2_000


GENERATOR = os.path.join(ROOT, "tools", "gen_testdata.py")
ORACLE = os.path.join(ROOT, "gov_ec_pipeline_etl_spark", "oracle.py")


def _digest(*texts: str) -> str:
    h = hashlib.sha256()
    for t in texts:
        h.update(t.encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def _source(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def _import_generator():
    spec = importlib.util.spec_from_file_location("gen_testdata", GENERATOR)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _publish(tmp: str, final: str) -> None:
    """Move a finished directory into place; a half-written one is never
    visible under ``final``."""
    if os.path.isdir(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)


def _generate(sf: float, seed: int) -> str:
    out = os.path.join(WORK, "data", f"sf{sf}-seed{seed}-{_digest(_source(GENERATOR))}")
    if not os.path.isdir(out):
        gen = _import_generator()
        gen.SEED = seed
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            gen.generate(sf, tmp)
        _publish(tmp, out)
    return out


def _cache_oracle(sf_dir: str, ops: tuple[str, ...]) -> dict[str, str]:
    """DuckDB oracle result of each query, pickled once per data dir and
    oracle; returns query name → pickle path."""
    from gov_ec_pipeline_etl_spark.oracle import duckdb_connection, rewrite_shared_oracle
    from gov_ec_pipeline_etl_spark.plans import all_queries
    from gov_ec_pipeline_etl_spark.plans.registry import oracle_text

    out = sf_dir + "-oracle"
    os.makedirs(out, exist_ok=True)
    queries = all_queries()
    oracle_src = _source(ORACLE)
    sqls = {name: oracle_text(queries[name], sf_dir) for name in ops}
    files = {name: os.path.join(out, f"{name}-{_digest(sql, oracle_src)}.pkl")
             for name, sql in sqls.items()}
    todo = [name for name, path in files.items() if not os.path.exists(path)]
    if not todo:
        return files
    con = duckdb_connection(sf_dir)
    created: set[str] = set()
    try:
        for name in todo:
            pdf = con.execute(rewrite_shared_oracle(sqls[name], con, created)).fetchdf()
            tmp = files[name] + ".tmp"
            pdf.to_pickle(tmp)
            os.replace(tmp, files[name])
    finally:
        con.close()
    return files


def prepare(w: Workload, seed: int) -> dict:
    """Generate (or reuse) the inputs of ``w`` for ``seed``."""
    if w.kind == "etl":
        from perfbench.etl_data import load_manifest, write_resources

        gen = os.path.join(ROOT, "perfbench", "etl_data.py")
        out = os.path.join(WORK, "data", f"etl-seed{seed}-{_digest(_source(gen))}")
        if not os.path.isdir(out):
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            write_resources(tmp, seed, ETL_ROWS)
            _publish(tmp, out)
        return load_manifest(out)
    sf_dir = _generate(w.sf, seed)
    return {"sf_dir": sf_dir, "oracle_files": _cache_oracle(sf_dir, w.ops)}
