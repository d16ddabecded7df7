"""Per-layer metrics from a traced run's spans, jobs and stream progress.

Each metric is computed per traced steady pass and reported as the median
over those passes. A span's self time is its wall minus the part of its
interval that its child spans, or the Spark jobs it started, cover.
"""

from __future__ import annotations

import statistics

MB = 2**20

# name → unit, in report order. Every workload reports COMMON; query
# workloads add QUERY, the etl workload adds ETL.
COMMON = {
    "session.get_spark_s": "s", "session.registry_s": "s",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "jvm.classes_loaded": "count",
    "jvm.heap_after_gc_mb": "MB", "jvm.cold_jit_s": "s",
    "jvm.cold_classes_loaded": "count",
    "trace.overhead_s": "s",
}
QUERY = {
    "plans.build_s": "s", "plans.build_self_s": "s", "plans.analyze_s": "s",
    "operators.barrier_jobs": "count", "operators.barrier_s": "s",
    "operators.cached_mb": "MB",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.slot_busy": "ratio", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.input_rows": "count", "exec.spill_mb": "MB",
    "streaming.run_s": "s", "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms", "streaming.input_rows": "count",
    "streaming.state_rows": "count", "streaming.state_mem_mb": "MB",
    "streaming.state_commit_ms": "ms",
}
ETL = {
    "sources.read_s": "s", "sources.rows": "count",
    "contract.apply_s": "s", "contract.apply_self_s": "s", "contract.jobs": "count",
    "sinks.upsert_s": "s", "sinks.upsert_jobs": "count",
    "sinks.bytes_written_mb": "MB", "sinks.rows_inserted": "count",
    "sinks.rows_matched": "count", "sinks.partitions_rewritten": "count",
    "sinks.audit_s": "s",
    "etl_pipeline.run_s": "s", "etl_pipeline.self_s": "s",
}


def units(kind: str) -> dict[str, str]:
    return {**COMMON, **(ETL if kind == "etl" else QUERY)}


def _wall(s: dict) -> float:
    return s["end"] - s["start"]


def covered(lo: float, hi: float, intervals) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _jobs_in(jobs: list[dict], s: dict) -> list[dict]:
    return [j for j in jobs if j["start"] is not None and s["start"] <= j["start"] <= s["end"]]


def _job_time(jobs: list[dict], s: dict) -> float:
    return covered(s["start"], s["end"],
                   [(j["start"], j["end"] or s["end"]) for j in jobs])


def _stages(jobs: list[dict]):
    return [st for j in jobs for st in j["stages"]]


def _pass_metrics(spans: list[dict], p_idx: int, stream: list[dict], cores: int) -> dict:
    p = spans[p_idx]
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)

    def under(idx: int):
        """Indices of every span below ``idx``."""
        for c in children.get(idx, []):
            yield c
            yield from under(c)

    m = dict.fromkeys({**COMMON, **QUERY, **ETL}, 0.0)
    for op_i in children.get(p_idx, []):
        op = spans[op_i]
        jobs = op.get("jobs", [])
        for s_i in under(op_i):
            s = spans[s_i]
            name, wall, mine = s["name"], _wall(s), _jobs_in(jobs, s)
            if name == "plans.build":
                barrier = _job_time(mine, s)
                m["plans.build_s"] += wall
                m["plans.build_self_s"] += wall - barrier
                m["operators.barrier_jobs"] += len(mine)
                m["operators.barrier_s"] += barrier
                m["operators.cached_mb"] += s.get("cached_bytes", 0) / MB
            elif name == "plans.analyze":
                m["plans.analyze_s"] += wall
            elif name == "exec":
                stages = _stages(mine)
                m["exec.wall_s"] += wall
                m["exec.jobs"] += len(mine)
                m["exec.stages"] += len(stages)
                m["exec.tasks"] += sum(st["tasks"] for st in stages)
                m["exec.task_run_s"] += sum(st["run_ms"] for st in stages) / 1000
                m["exec.task_cpu_s"] += sum(st["cpu_ns"] for st in stages) / 1e9
                m["exec.shuffle_write_mb"] += sum(st["shuffle_write"] for st in stages) / MB
                m["exec.shuffle_read_mb"] += sum(st["shuffle_read"] for st in stages) / MB
                m["exec.input_rows"] += sum(st["input_rows"] for st in stages)
                m["exec.spill_mb"] += sum(st["spill"] for st in stages) / MB
            elif name == "sources.read":
                m["sources.read_s"] += wall
            elif name == "contract.apply":
                job_time = _job_time(mine, s)
                m["contract.apply_s"] += wall
                m["contract.apply_self_s"] += wall - job_time
                m["contract.jobs"] += len(mine)
            elif name == "sinks.upsert":
                res = s.get("result") or {}
                m["sinks.upsert_s"] += wall
                m["sinks.upsert_jobs"] += len(mine)
                m["sinks.bytes_written_mb"] += sum(st["output"] for st in _stages(mine)) / MB
                m["sinks.rows_inserted"] += res.get("rows_inserted", 0)
                m["sinks.rows_matched"] += res.get("rows_matched", 0)
                m["sinks.partitions_rewritten"] += res.get("partitions_rewritten", 0)
            elif name == "sinks.audit":
                m["sinks.audit_s"] += wall
            elif name == "etl_pipeline.run":
                parts = [spans[c] for c in under(s_i) if spans[c]["name"] in (
                    "sources.read", "contract.apply", "sinks.upsert", "sinks.audit")]
                m["etl_pipeline.run_s"] += wall
                m["etl_pipeline.self_s"] += wall - sum(_wall(c) for c in parts)
                m["sources.rows"] += s.get("rows_in", 0)
    if m["exec.wall_s"]:
        m["exec.slot_busy"] = m["exec.task_run_s"] / (m["exec.wall_s"] * cores)
    j0, j1 = p["jvm_before"], p["jvm_after"]
    m["jvm.jit_s"] = j1["jit_s"] - j0["jit_s"]
    m["jvm.gc_s"] = j1["gc_s"] - j0["gc_s"]
    m["jvm.classes_loaded"] = j1["classes"] - j0["classes"]
    m["jvm.heap_after_gc_mb"] = j1["heap_after_gc_mb"]

    batches = [e for e in stream if p["start"] <= e["at"] <= p["end"]]
    if batches:
        last_state: dict[str, int] = {}
        for e in batches:
            last_state[e["query"]] = e["state_rows"]
        m["streaming.run_s"] = sum(e["ms"] for e in batches) / 1000
        m["streaming.batches"] = len(batches)
        m["streaming.batch_p50_ms"] = statistics.median(e["ms"] for e in batches)
        m["streaming.input_rows"] = sum(e["rows"] for e in batches)
        m["streaming.state_rows"] = sum(last_state.values())
        m["streaming.state_mem_mb"] = max(e["state_mem"] for e in batches) / MB
        m["streaming.state_commit_ms"] = sum(e["commit_ms"] for e in batches)
    return m


def layer_metrics(kind: str, done: dict, setup: dict, cores: int) -> dict[str, float]:
    spans = done["spans"]
    passes = [i for i, s in enumerate(spans) if s["name"] == "pass"]
    steady = [_pass_metrics(spans, i, done["stream"], cores)
              for i in passes if spans[i]["kind"] == "steady"]
    out = {k: statistics.median(m[k] for m in steady) for k in units(kind)}
    cold = next(spans[i] for i in passes if spans[i]["kind"] == "cold")
    out["jvm.cold_jit_s"] = cold["jvm_after"]["jit_s"] - cold["jvm_before"]["jit_s"]
    out["jvm.cold_classes_loaded"] = cold["jvm_after"]["classes"] - cold["jvm_before"]["classes"]
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["session.registry_s"] = setup["registry_s"]
    walls = done["walls"]
    out["trace.overhead_s"] = (statistics.median(walls["steady"])
                               - statistics.median(walls["steady_untraced"]))
    return out
