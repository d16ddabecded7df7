"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs a registered query's Spark plan and its ANSI-SQL oracle on DuckDB over
the same parquet tables, canonicalizes both results (column-name sort,
row sort, type normalization), and diffs them. Used by tests/ and the
``python -m gov_ec_pipeline_etl_spark.oracle`` CLI so every operator is
verified before the driver ever sees it.
"""

from __future__ import annotations

import contextlib as _contextlib
import datetime as _dt
import math
from typing import Any

import duckdb
import pandas as pd

from gov_ec_pipeline_etl_spark.caching import unpersist_inputs
from gov_ec_pipeline_etl_spark.tables import TABLES, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory connection with the canonical views registered.

    memory_limit is EXPLICITLY bounded (default 32GB, override via
    SPARK_GRAFT_DUCKDB_MEM): DuckDB's default is ~80% of host RAM, and
    on a long full-surface gate its buffer pool legitimately grows
    through the heavy oracle replays and never shrinks — at sf1 the
    pool + the Spark driver JVM exceeded physical RAM and the OS
    OOM-killed the gate on a TRIVIAL late query (round-5 run: exit -9
    on x57 after 158 greens). Bounded, DuckDB spills to temp instead."""
    import os as _os
    import tempfile as _tempfile

    con = duckdb.connect(
        config={
            "memory_limit": _os.environ.get("SPARK_GRAFT_DUCKDB_MEM", "32GB"),
            "temp_directory": _os.path.join(
                _tempfile.gettempdir(), "duckdb_oracle_spill"
            ),
        }
    )
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _canon_value(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v == 0.0:
            return 0.0  # collapse -0.0
        return float(v)
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        if pd.isna(v):
            return None
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bool,)):
        return bool(v)
    if isinstance(v, (int,)):
        return int(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon_value(x) for x in v)
    if hasattr(v, "item"):  # numpy scalars
        return _canon_value(v.item())
    if pd.isna(v):
        return None
    return v


def canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(_canon_value(v) for v in rec) for rec in pdf.itertuples(index=False)]
    rows.sort(key=lambda r: tuple(repr(x) for x in r))
    return rows


_FAST_COMPARE_ROWS = 200_000


def _mix64(x):
    """Vectorized splitmix64 finalizer (public-domain constant set) —
    uint64 wrap-around is the intended arithmetic."""
    import numpy as np

    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _row_hashes(columns: dict[str, pd.Series]):
    """One uint64 per row over parallel same-length Series (insertion
    order defines the row layout — build the dict in ``cols`` order on
    both sides). Numeric/datetime columns hash their raw bit patterns
    through splitmix64 (float NaN is canonicalized so any payload
    hashes alike; -0.0 was collapsed by the caller); everything else
    goes through ``pd.util.hash_array`` (siphash — None==NaN==NaT and
    date==ISO-string, the slow path's ``_canon_value`` equivalences).
    Column hashes chain through a mix per column, so swapping values
    BETWEEN columns changes the row hash. Takes a dict, not a
    DataFrame: frame construction consolidates blocks (~6 s per side
    at 10 M rows — most of what this path is meant to save)."""
    import numpy as np

    n = len(next(iter(columns.values()))) if columns else 0
    h = np.full(n, 0x243F6A8885A308D3, dtype=np.uint64)
    for i, (c, s) in enumerate(columns.items()):
        kind = s.dtype.kind
        try:
            if kind in "iub":
                bits = s.to_numpy().astype(np.int64, copy=False).view(np.uint64)
            elif kind == "f":
                av = s.to_numpy().astype(np.float64, copy=False)
                av = np.where(np.isnan(av), np.nan, av)  # one NaN payload
                bits = av.view(np.uint64)
            elif kind in "Mm":
                bits = s.to_numpy().view(np.int64).view(np.uint64)
            else:
                bits = pd.util.hash_array(s.to_numpy(), categorize=True)
        except (TypeError, ValueError):
            # extension/masked dtypes: pandas' own row hasher
            bits = pd.util.hash_pandas_object(s, index=False).to_numpy()
        h = _mix64((h ^ bits) * np.uint64(0x100000001B3) + np.uint64(i + 1))
    return h


def _fast_compare(
    spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, cols: list[str]
) -> tuple[bool, str]:
    """Vectorized multiset equality for LARGE results (sf1-scale gates).

    The row-tuple canonicalizer below builds n·m Python objects and
    sorts with repr() keys — minutes of single-core time per side on a
    multi-million-row dedup pair set. Round 8's mergesort variant of
    this path was still the u18 sf1 gate's single largest leg (~676 s
    of pandas multi-column sort over 89 M group-pair rows). Order does
    not matter for set-semantics results, so equality here is multiset
    equality of vectorized row hashes: after dtype normalization, hash
    every row with ``pd.util.hash_pandas_object`` (uint64 siphash;
    None==NaN==NaT, date==ISO-string — the same equivalences
    ``_canon_value`` applies on the slow path) and compare the SORTED
    hash arrays. np.sort on uint64 is seconds where the frame sort was
    minutes. A genuine single-row difference is masked only if the two
    differing rows collide at 64 bits (~2^-64 per differing row). On
    mismatch, per-column hash multisets (O(cols) extra uint64 sorts,
    no frame sort) name the differing column(s); a row-COUNT mismatch
    short-circuits first, since with unequal lengths every per-column
    multiset would differ and the message would name all columns."""
    import numpy as np

    if len(spark_pdf) != len(duck_pdf):
        return False, (
            f"row count mismatch: spark {len(spark_pdf)} vs "
            f"duckdb {len(duck_pdf)} (large-result fast compare)"
        )
    s_cols: dict[str, pd.Series] = {}
    d_cols: dict[str, pd.Series] = {}
    for c in cols:
        a = spark_pdf[c].reset_index(drop=True)
        b = duck_pdf[c].reset_index(drop=True)
        try:
            if a.dtype != b.dtype:
                # Coerce toward the WIDER type. Casting the DuckDB column to
                # the Spark dtype would truncate (float64 1.5 → int64 1) and
                # report a false "ok" — the slow canonical path compares 1 vs
                # 1.5 as unequal, so this path must too.
                if a.dtype.kind in "iu" and b.dtype.kind == "f":
                    a = a.astype(b.dtype)
                elif a.dtype.kind == "f" and b.dtype.kind in "iu":
                    b = b.astype(a.dtype)
                else:
                    cast = b.astype(a.dtype)
                    if not cast.astype(b.dtype).equals(b):
                        return False, (
                            f"column {c}: lossy dtype coercion "
                            f"{b.dtype} -> {a.dtype} rejected"
                        )
                    b = cast
        except (TypeError, ValueError):
            return False, f"column {c}: incomparable dtypes {a.dtype} vs {b.dtype}"
        if a.dtype.kind == "f":
            # collapse -0.0 → 0.0 like _canon_value (hash_pandas_object
            # distinguishes the sign bit; NaN already hashes uniformly)
            a = pd.Series(np.where(a.to_numpy() == 0.0, 0.0, a.to_numpy()))
            b = pd.Series(np.where(b.to_numpy() == 0.0, 0.0, b.to_numpy()))
        s_cols[c], d_cols[c] = a, b
    hs = _row_hashes(s_cols)
    hd = _row_hashes(d_cols)
    hs.sort()
    hd.sort()
    if np.array_equal(hs, hd):
        # success message is assembled by compare() (single format owner —
        # splicing timing into a string built here proved fragile)
        return True, "fast compare"
    # name the differing column(s) via per-column hash multisets —
    # O(cols) uint64 sorts, no frame sort even on failure
    bad_cols = []
    for c in cols:
        ch_s = _row_hashes({c: s_cols[c]})
        ch_d = _row_hashes({c: d_cols[c]})
        ch_s.sort()
        ch_d.sort()
        if not np.array_equal(ch_s, ch_d):
            bad_cols.append(c)
    if bad_cols:
        return False, (
            f"column {', '.join(bad_cols)} differs (large-result fast compare)"
        )
    return False, (
        "every single-column multiset matches but row-level hashes differ "
        "— cross-column row pairing mismatch (large-result fast compare)"
    )


def _ensure_shared_fragment(
    name: str,
    con: duckdb.DuckDBPyConnection,
    created: set[str],
    frags: list[tuple[str, str]],
) -> None:
    """Materialize fragment ``name`` as temp table _shared_<name> on
    ``con`` (idempotent per ``created``). The fragment's own defining
    SQL is first rewritten against OTHER fragments, so e.g. the d02
    pair replay builds from the already-materialized sketch table."""
    if name in created:
        return
    sql = dict(frags)[name]
    for n2, f2 in frags:  # longest-first, skip self
        if n2 != name and f2 in sql:
            _ensure_shared_fragment(n2, con, created, frags)
            sql = sql.replace(f2, f"SELECT * FROM _shared_{n2}")
    con.execute(f"CREATE TEMP TABLE _shared_{name} AS {sql}")
    created.add(name)


def rewrite_shared_oracle(
    sql: str | None,
    con: duckdb.DuckDBPyConnection,
    created: set[str],
) -> str | None:
    """Substitute registered shared fragments (see
    ``plans.registry.register_shared_fragment``) appearing VERBATIM in
    ``sql`` with reads of per-connection temp tables, materializing each
    on first use. Pure text substitution of an identical sub-select —
    the rewritten oracle is semantically the original (unit-tested per
    fragment) — but a gate run replays each heavy chain once instead of
    once per dependent oracle (~5.6 ks of the round-7 skewed sf1 gate).
    Only the LOCAL gate rewrites; the driver runs the standalone text."""
    if sql is None:
        return None
    from gov_ec_pipeline_etl_spark.plans.registry import shared_fragments

    frags = sorted(shared_fragments().items(), key=lambda kv: -len(kv[1]))
    for name, frag in frags:
        if frag in sql:
            _ensure_shared_fragment(name, con, created, frags)
            sql = sql.replace(frag, f"SELECT * FROM _shared_{name}")
    return sql


def compare(
    spark_df, oracle_sql: str, sf_dir: str, con: duckdb.DuckDBPyConnection | None = None,
    t_plan: float = 0.0, t_orc_extra: float = 0.0,
) -> tuple[bool, str]:
    """Return (match, message). Message describes the first divergence.

    On match, the message carries the engine-vs-oracle wall split
    (``eng Xs orc Ys``) so long gate sessions attribute their per-query
    cost without a rerun — the r5/r6 x58 "gate entry looks slow" chases
    were oracle-side both times, but the artifact alone couldn't show
    it. ``t_plan`` is the wall the CALLER spent building ``spark_df``:
    streaming-derived queries (v0x) execute micro-batches eagerly inside
    the plan function, so timing only toPandas() here would attribute a
    12 s query as "eng 0.1s" — run_all passes the plan-build wall in and
    it is folded into the engine leg."""
    import time as _time

    own_con = con is None
    if own_con:
        con = duckdb_connection(sf_dir)
    try:
        t0 = _time.time()
        spark_pdf = spark_df.toPandas()
        t_eng = _time.time() - t0 + t_plan
        t0 = _time.time()
        duck_pdf = con.execute(oracle_sql).fetchdf()
        t_orc = _time.time() - t0 + t_orc_extra
    finally:
        if own_con:
            con.close()

    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        return False, f"column mismatch: spark={s_cols} duckdb={d_cols}"
    # The external harness canonicalizes via pandas sort_values, which cannot
    # factorize list-typed columns — reject them here so the gap between this
    # replica and the driver can't mask a failure (round-1 m03 trap).
    for pdf, side in ((spark_pdf, "spark"), (duck_pdf, "duckdb")):
        for c in pdf.columns:
            # only object dtype can hold list values — the unconditional
            # per-value map cost ~285 s of d03's 130 M-row sf1 entry
            if pdf[c].dtype == object and pdf[c].map(
                lambda v: isinstance(v, (list, tuple))
                or type(v).__name__ == "ndarray"
            ).any():
                return False, (
                    f"non-scalar column {side}.{c}: list/array-valued outputs "
                    "break the driver's canonicalizer — emit a joined string "
                    "(array_join / array_to_string) or explode to rows"
                )
    if len(spark_pdf) != len(duck_pdf):
        return False, f"row count mismatch: spark={len(spark_pdf)} duckdb={len(duck_pdf)}"
    # the canonicalize+diff leg is timed separately (cmp): on large
    # results it dominates neither engine nor oracle but the HARNESS —
    # u18's sf1 gate entry carried ~677 s of untimed pandas sort/diff
    # in round 8, which read as mystery wall until attributed
    t0 = _time.time()
    if len(spark_pdf) > _FAST_COMPARE_ROWS:
        ok, msg = _fast_compare(spark_pdf, duck_pdf, s_cols)
        split = (
            f"eng {t_eng:.1f}s orc {t_orc:.1f}s cmp {_time.time() - t0:.1f}s"
        )
        return ok, f"ok ({len(spark_pdf)} rows, {msg}, {split})" if ok else msg
    s_rows, d_rows = canonical_rows(spark_pdf), canonical_rows(duck_pdf)
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            return False, f"row {i} differs (cols {s_cols}):\n  spark : {a}\n  duckdb: {b}"
    split = f"eng {t_eng:.1f}s orc {t_orc:.1f}s cmp {_time.time() - t0:.1f}s"
    return True, f"ok ({len(s_rows)} rows, {split})"


def run_all(
    sf_dir: str,
    names: list[str] | None = None,
    spark=None,
    on_result=None,
) -> dict[str, str]:
    """Run every registered query with an oracle; return name → status.

    ``on_result(name, status, seconds)`` streams each result as it
    lands — long runs (sf1 gate) report progress instead of buffering
    everything until the end."""
    import time as _time

    from gov_ec_pipeline_etl_spark.plans import all_queries
    from gov_ec_pipeline_etl_spark.session import get_spark

    spark = spark or get_spark("oracle-parity")
    con = duckdb_connection(sf_dir)
    shared_created: set[str] = set()
    out: dict[str, str] = {}
    try:
        for name, q in sorted(all_queries().items()):
            if names and name not in names:
                continue
            t0 = _time.time()
            if q.oracle is None:
                try:
                    df = q.spark(spark, sf_dir)
                    try:
                        n = df.count()
                    finally:
                        unpersist_inputs(df)
                    out[name] = f"rows-only ({n} rows)"
                except Exception as e:  # noqa: BLE001
                    out[name] = f"ERROR {type(e).__name__}: {e}"
            else:
                try:
                    from gov_ec_pipeline_etl_spark.plans.registry import oracle_text

                    df = q.spark(spark, sf_dir)
                    t_plan = _time.time() - t0
                    t0s = _time.time()
                    osql = rewrite_shared_oracle(
                        oracle_text(q, sf_dir), con, shared_created
                    )
                    t_shared = _time.time() - t0s
                    try:
                        ok, msg = compare(
                            df, osql, sf_dir, con,
                            t_plan=t_plan, t_orc_extra=t_shared,
                        )
                    finally:
                        unpersist_inputs(df)
                    out[name] = ("OK " if ok else "MISMATCH ") + msg
                except Exception as e:  # noqa: BLE001
                    out[name] = f"ERROR {type(e).__name__}: {e}"
            # stages are released above; clearing the cache between
            # queries also drops whatever a build that raised had staged
            # (queries never share caches — bench.py does the same).
            with _contextlib.suppress(Exception):
                spark.catalog.clearCache()
            if on_result is not None:
                on_result(name, out[name], _time.time() - t0)
    finally:
        con.close()
    return out


if __name__ == "__main__":
    import sys

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    args = sys.argv[2:]
    skip: set[str] = set()
    while "--skip" in args:
        i = args.index("--skip")
        if i + 1 >= len(args):
            print("usage: oracle SF_DIR [QUERY ...] [--skip QUERY] ...", file=sys.stderr)
            sys.exit(2)
        skip.add(args[i + 1])
        args = args[:i] + args[i + 2 :]
    names = args or None
    if skip:
        from gov_ec_pipeline_etl_spark.plans import all_queries

        unknown = skip - set(all_queries())
        if unknown:
            print(f"warning: --skip names not registered: {sorted(unknown)}", file=sys.stderr)
        names = sorted(set(names or all_queries()) - skip)
    failed = 0

    def _stream(name: str, status: str, secs: float) -> None:
        print(f"{name}: {status} [{secs:.1f}s]", flush=True)

    for name, status in run_all(sf_dir, names, on_result=_stream).items():
        if not (status.startswith("OK") or status.startswith("rows-only")):
            failed += 1
    sys.exit(1 if failed else 0)
