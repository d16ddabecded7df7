"""One benchmark JVM: set up a session, run a workload's passes, report.

``run.py`` starts this as ``python3 perfbench/worker.py CONFIG_JSON`` in a
process group of its own, so a wall limit can kill the driver JVM with it.
The worker writes one JSON event per line to stdout, each prefixed with
``EVENT``; everything else on stdout is the JVM's and is ignored.

Events: ``ready`` (session set up), ``op_start``/``op_end`` around every
operation, and ``done`` with the run's layer metrics.

Passes: a cold pass (the first in this JVM, timed), a check pass (untimed:
each output is compared with the cached DuckDB oracle result), a warm-up
pass (untimed), then steady passes until ``seconds`` have passed, at least
``min_steady`` of them. With tracing on, steady passes alternate traced
and untraced, and the difference of their medians is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EVENT = "@@perfbench "
CONFIG = os.path.join(ROOT, "configs", "detenidos.yaml")


def emit(ev: str, **fields) -> None:
    print(EVENT + json.dumps({"ev": ev, **fields}), flush=True)


class Tracer:
    """Spans kept in memory: name, wall-clock start and end (so they line
    up with the JVM's job timestamps), parent index, attributes."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield {}
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


OFF = Tracer(False)  # records nothing: the tracer of untraced passes


class StatusStore:
    """Jobs and stages from Spark's status store, read after each
    operation: the store keeps only the last ``spark.ui.retainedJobs``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.last_job = -1

    def drain(self) -> None:
        # the store is fed by the listener bus; wait until it caught up
        self.sc.listenerBus().waitUntilEmpty(30_000)

    def new_jobs(self) -> list[dict]:
        self.drain()
        seq = self.store.jobsList(None)
        jobs, seen_stages = [], set()
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            stages = []
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                s = self.store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                stages.append({
                    "tasks": s.numCompleteTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "shuffle_read": s.shuffleReadBytes(),
                    "input_rows": s.inputRecords(),
                    "output": s.outputBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                })
            jobs.append({
                "id": jid,
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000 if done.isDefined() else None,
                "stages": stages,
            })
        if jobs:
            self.last_job = max(j["id"] for j in jobs)
        return jobs

    def cached_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self.sc.getRDDStorageInfo())


def _stream_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators
            self.events.append({
                "query": str(p.runId),
                "at": time.time(),
                "ms": p.durationMs.get("triggerExecution", 0),
                "rows": p.numInputRows,
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_mem": sum(o.memoryUsedBytes for o in ops),
                "commit_ms": sum(o.commitTimeMs for o in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


class JvmCounters:
    def __init__(self, spark):
        self.mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def read(self) -> dict:
        gc_ms = sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans())
        heap_after_gc = 0
        for pool in self.mf.getMemoryPoolMXBeans():
            if pool.getType().toString() == "Heap memory":
                usage = pool.getCollectionUsage()
                if usage is not None:
                    heap_after_gc += usage.getUsed()
        return {
            "jit_s": self.mf.getCompilationMXBean().getTotalCompilationTime() / 1000,
            "gc_s": gc_ms / 1000,
            "classes": self.mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
            "heap_after_gc_mb": heap_after_gc / 2**20,
        }


def setup():
    """Session, query registry and a first trivial job: what every run
    pays before its first operation."""
    t0 = time.perf_counter()
    from gov_ec_pipeline_etl_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    t1 = time.perf_counter()
    from gov_ec_pipeline_etl_spark.plans import all_queries

    queries = all_queries()
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    emit("ready", get_spark_s=t1 - t0, registry_s=t2 - t1, first_job_s=t3 - t2)
    return spark, queries


class _CachedOracle:
    """Stands in for the DuckDB connection ``oracle.compare`` reads the
    oracle result from: hands back the result cached for this seed."""

    def __init__(self, pdf):
        self.pdf = pdf

    def execute(self, sql):
        return self

    def fetchdf(self):
        return self.pdf


class QueryOps:
    """Registered queries, each run into the ``noop`` sink."""

    def __init__(self, spark, queries, cfg, tracer, store):
        self.spark, self.queries, self.cfg = spark, queries, cfg
        self.tracer, self.store = tracer, store

    def run(self, name: str, traced: bool) -> None:
        from gov_ec_pipeline_etl_spark.caching import unpersist_inputs

        t = self.tracer if traced else OFF
        q = self.queries[name]
        with t.span("plans.build") as b:
            df = q.spark(self.spark, self.cfg["sf_dir"])
        if traced:
            b["cached_bytes"] = self.store.cached_bytes()
            with t.span("plans.analyze"):
                df._jdf.queryExecution().executedPlan()
        try:
            with t.span("exec"):
                df.write.format("noop").mode("overwrite").save()
        finally:
            unpersist_inputs(df)

    def checked_run(self, name: str) -> str | None:
        """Run ``name`` collecting its output; the mismatch with the cached
        oracle result, or None."""
        import pandas as pd

        from gov_ec_pipeline_etl_spark.caching import unpersist_inputs
        from gov_ec_pipeline_etl_spark.oracle import compare

        expected = pd.read_pickle(self.cfg["oracle_files"][name])
        df = self.queries[name].spark(self.spark, self.cfg["sf_dir"])
        try:
            ok, msg = compare(df, "oracle result", self.cfg["sf_dir"], _CachedOracle(expected))
        finally:
            unpersist_inputs(df)
        return None if ok else msg


class EtlOps:
    """``load``: run_etl into an empty table; ``merge``: run_etl again with
    one changed resource. The table is checked by DuckDB after each."""

    def __init__(self, spark, queries, cfg, tracer, store):
        self.spark, self.cfg, self.tracer, self.store = spark, cfg, tracer, store
        self.work = None
        self.pass_no = 0
        self.results: list[dict] = []
        if tracer.on:
            self._wrap_layers()

    def _wrap_layers(self) -> None:
        """Spans around the public functions run_etl calls."""
        import gov_ec_pipeline_etl_spark.etl_pipeline as etl
        from gov_ec_pipeline_etl_spark.contract.compiler import ContractPipeline
        from gov_ec_pipeline_etl_spark.sinks.audit import AuditLedger

        tracer = self.tracer

        def wrap(owner, attr, span, keep_result=False):
            fn = getattr(owner, attr)

            def traced(*a, **k):
                with tracer.span(span) as s:
                    out = fn(*a, **k)
                    if keep_result:
                        s["result"] = out
                    return out

            setattr(owner, attr, traced)

        wrap(ContractPipeline, "apply", "contract.apply")
        wrap(etl, "upsert_parquet", "sinks.upsert", keep_result=True)
        wrap(AuditLedger, "record_resource", "sinks.audit")
        wrap(AuditLedger, "close_run", "sinks.audit")

    def _reader(self, spark, res):
        from gov_ec_pipeline_etl_spark.sources.ingest import read_csv_resource

        with self.tracer.span("sources.read"):
            return read_csv_resource(spark, res["path"])

    def run(self, name: str, traced: bool) -> None:
        from gov_ec_pipeline_etl_spark.etl_pipeline import run_etl

        if name == "load":
            self.pass_no += 1
            self.work = os.path.join(self.cfg["tmp_dir"], f"etl-pass{self.pass_no}")
            shutil.rmtree(self.work, ignore_errors=True)
        reader = self._reader if traced else None
        with (self.tracer if traced else OFF).span("etl_pipeline.run") as s:
            result = run_etl(self.spark, CONFIG, self.cfg[name], self.work, reader=reader)
            if traced:
                s["rows_in"] = sum(r.get("rows_in", 0) for r in result.reports.values())
        if name == "merge":
            self.results.append({"stored_bytes": _dir_bytes(self._table())})

    def _table(self) -> str:
        return os.path.join(self.work, "table", "detenidos_aprehendidos")

    def checked_run(self, name: str) -> str | None:
        """Run ``name``, then count the current snapshot's rows and
        distinct ids with DuckDB."""
        from urllib.parse import urlparse

        import duckdb

        from gov_ec_pipeline_etl_spark.sinks.upsert import read_table

        self.run(name, False)
        files = [urlparse(f).path for f in read_table(self.spark, self._table()).inputFiles()]
        con = duckdb.connect()
        try:
            rows, ids = con.execute(
                "SELECT count(*), count(DISTINCT surrogate_id) FROM read_parquet(?)",
                [files],
            ).fetchone()
        finally:
            con.close()
        want = self.cfg[f"{name}_keys"]
        if rows == ids == want:
            return None
        return f"table holds {rows} rows, {ids} distinct ids; expected {want}"


def quiesce(spark) -> None:
    """Between operations, outside the timed window: drop cached
    intermediates and collect the driver heap, so one operation's garbage
    does not tax the next."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


CLK_TCK = os.sysconf("SC_CLK_TCK")


def group_cpu_s() -> float:
    """CPU seconds used so far by every process of this run's session: the
    worker, the driver JVM (its JIT compiler and GC threads included) and
    the Python workers it forks, counting children they have already
    reaped. The host's steal is not in it."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # ended since it was listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid:  # field 6, the session id
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def main() -> None:
    cfg = json.loads(sys.argv[1])
    spark, queries = setup()
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(cfg["trace"])
    store = StatusStore(spark) if cfg["trace"] else None
    ops_cls = EtlOps if cfg["kind"] == "etl" else QueryOps
    ops = ops_cls(spark, queries, cfg, tracer, store)
    listener = _stream_listener(spark) if cfg["trace"] else None
    jvm = JvmCounters(spark)
    names = cfg["ops"]
    walls: dict[str, list[float]] = {}  # pass kind → pass walls

    def one_pass(kind: str, idx: int, traced: bool) -> None:
        total = 0.0
        t = tracer if traced else OFF
        with t.span("pass", kind=kind, index=idx) as p:
            j0 = jvm.read()
            for name in names:
                emit("op_start", op=name, pass_kind=kind)
                error = None
                c0 = group_cpu_s()
                t0 = time.perf_counter()
                try:
                    with t.span("op", op=name) as o:
                        if kind == "check":
                            error = ops.checked_run(name)
                        else:
                            ops.run(name, traced)
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    error = f"{type(e).__name__}: {e}"[:2000]
                wall = time.perf_counter() - t0
                cpu = group_cpu_s() - c0
                if traced and store is not None:
                    o["jobs"] = store.new_jobs()
                emit("op_end", op=name, pass_kind=kind, wall=wall, cpu=cpu, error=error)
                if error and "OutOfMemoryError" in error:
                    sys.exit(3)  # the JVM is not trustworthy after an OOM
                total += wall
                quiesce(spark)
            if traced:
                p["jvm_before"], p["jvm_after"] = j0, jvm.read()
        walls.setdefault(kind + ("" if traced or not cfg["trace"] else "_untraced"), []).append(total)

    one_pass("cold", 0, cfg["trace"])
    one_pass("check", 0, False)
    one_pass("warm", 0, False)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    # peak memory of the steady passes: the check pass collects results to
    # the driver and the cold pass grows the heap by GC timing, which made
    # a whole-run peak vary by 25% between seeds
    with open(f"/proc/{jvm_pid}/clear_refs", "w") as f:
        f.write("5")  # resets VmHWM to the current RSS
    deadline = time.perf_counter() + cfg["seconds"]
    i = 0
    while time.perf_counter() < deadline or i < cfg["min_steady"]:
        one_pass("steady", i, cfg["trace"] and i % 2 == 0)
        i += 1
    if store is not None:
        store.drain()
    emit("done", walls=walls, peak_rss_mb=_peak_rss_mb(jvm_pid),
         spans=tracer.spans if cfg["trace"] else [],
         stream=listener.events if listener else [],
         etl=getattr(ops, "results", []))
    spark.stop()


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


if __name__ == "__main__":
    main()
