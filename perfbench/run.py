"""The repo's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 16 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (cached
per seed under ``perfbench/.work``). One fresh process and JVM on
``local[$(nproc)]`` sets up the session and runs the workload: a cold
pass, an oracle-checked pass, a warm-up pass, then steady passes for
``--seconds``. Every operation has a wall limit; past it, or on an
``OutOfMemoryError``, the worker's whole process group is killed and the
operation counts as failed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it is a readable
summary with ``op_failed_ratio``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.worker import EVENT  # noqa: E402
from perfbench.workloads import WORK, WORKLOADS, Workload, prepare  # noqa: E402

OP_LIMIT = 60.0  # seconds for one operation
SETUP_LIMIT = 120.0  # seconds from process start to a ready session
RUN_LIMIT = 170.0  # the whole run, including input generation
MIN_STEADY = 3  # steady passes run even past --seconds


class Worker:
    """A worker process in its own process group, read event by event."""

    def __init__(self, cfg: dict, log_path: str):
        # The JVM's scratch files stay in the work dir. JVM flags go through
        # JAVA_TOOL_OPTIONS, not the Spark conf, so the driver runs with the
        # conf the program sets; -XX:-UsePerfData keeps HotSpot from writing
        # its monitoring file under /tmp.
        env = dict(os.environ, PYTHONPATH=ROOT, SPARK_LOCAL_DIRS=cfg["tmp_dir"],
                   TMPDIR=cfg["tmp_dir"], SPARK_GRAFT_CPUS=str(cfg["cores"]),
                   JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={cfg['tmp_dir']} -XX:-UsePerfData")
        self.started = time.perf_counter()
        with open(log_path, "ab") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), json.dumps(cfg)],
                stdout=subprocess.PIPE, stderr=log, env=env, cwd=ROOT,
                start_new_session=True,
            )
        self.events: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for raw in self.proc.stdout:
            line = raw.decode("utf-8", "replace")
            if line.startswith(EVENT):
                self.events.put(json.loads(line[len(EVENT):]))
        self.events.put(None)  # end of stream

    def next(self, limit: float) -> dict | None:
        """The next event; None if the worker ended or ``limit`` passed."""
        try:
            return self.events.get(timeout=max(limit, 0.0))
        except queue.Empty:
            return None

    def stop(self, sig: int = signal.SIGKILL) -> None:
        """Signal the whole group (the driver JVM is in it) and wait until
        every process in it has ended."""
        pgid = self.proc.pid
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.proc.stdout.close()
        deadline = time.monotonic() + 20
        while True:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            if time.monotonic() > deadline:
                os.killpg(pgid, signal.SIGKILL)
            time.sleep(0.05)


def run(w: Workload, seed: int, seconds: int, trace: bool) -> dict:
    t_start = time.perf_counter()

    def progress(msg: str) -> None:
        print(f"[{time.perf_counter() - t_start:6.1f} s] {msg}", file=sys.stderr)

    cores = os.cpu_count() or 1
    inputs = prepare(w, seed)
    progress("inputs ready")
    tmp_dir = os.path.join(WORK, "tmp")
    log_path = os.path.join(WORK, "worker.log")
    cfg = {"kind": w.kind, "ops": list(w.ops), "seconds": seconds, "trace": trace,
           "min_steady": MIN_STEADY, "cores": cores, "tmp_dir": tmp_dir, **inputs}

    result = {"attempted": 0, "failed": 0, "errors": [], "op_walls": {}, "op_cpus": {}, "done": None}
    shutil.rmtree(tmp_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    worker = Worker(cfg, log_path)
    try:
        ev = worker.next(SETUP_LIMIT)
        if ev is None or ev["ev"] != "ready":
            raise RuntimeError(f"worker set-up failed; see {log_path}")
        result["setup"] = dict(ev, wall=time.perf_counter() - worker.started)
        progress(f"set-up: {result['setup']['wall']:.2f} s")
        _supervise(worker, t_start, result)
    finally:
        worker.stop()
    shutil.rmtree(tmp_dir, ignore_errors=True)
    for (kind, op), walls in sorted(result["op_walls"].items()):
        cpus = result["op_cpus"].get((kind, op), [])
        progress(f"{kind:6s} {op}: wall " + " ".join(f"{x:.3f}" for x in walls)
                 + " | cpu " + " ".join(f"{x:.2f}" for x in cpus))
    return result


def _supervise(worker: Worker, t_start: float, result: dict) -> None:
    """Follow the worker's operations, killing it past a wall limit."""
    current = None
    while True:
        run_left = RUN_LIMIT - (time.perf_counter() - t_start)
        limit = min(OP_LIMIT, run_left) if current else run_left
        ev = worker.next(limit)
        if ev is None:
            if current is not None:
                result["attempted"] += 1
                result["failed"] += 1
                result["errors"].append(
                    f"{current['op']} ({current['pass_kind']}): no result within "
                    f"{limit:.0f} s or worker died")
                result["op_walls"].setdefault((current["pass_kind"], current["op"]), []).append(
                    time.perf_counter() - current["t"])
            elif result["done"] is None:
                result["attempted"] += 1
                result["failed"] += 1
                result["errors"].append("worker ended before reporting")
            return
        if ev["ev"] == "op_start":
            current = dict(ev, t=time.perf_counter())
        elif ev["ev"] == "op_end":
            current = None
            result["attempted"] += 1
            result["op_walls"].setdefault((ev["pass_kind"], ev["op"]), []).append(ev["wall"])
            result["op_cpus"].setdefault((ev["pass_kind"], ev["op"]), []).append(ev["cpu"])
            if ev["error"]:
                result["failed"] += 1
                result["errors"].append(f"{ev['op']} ({ev['pass_kind']}): {ev['error']}")
        elif ev["ev"] == "done":
            result["done"] = ev
            return


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _pass(samples: dict, kind: str) -> float:
    """One pass of ``kind``: the sum over operations of each one's median
    sample, so a stall in one pass moves one sample, not the whole pass."""
    return sum(statistics.median(v) for (k, _), v in samples.items() if k == kind)


def end_to_end(res: dict) -> dict:
    """The gated metrics. A steady pass is measured in CPU seconds of the
    run's processes, which the host's steal does not stretch as it
    stretches walls (NOTES.md, "Why a steady pass in CPU seconds")."""
    m = {"setup_s": _metric(res["setup"]["wall"], "s")}
    if res["done"] is None:
        return m
    m["pass_cpu_s"] = _metric(_pass(res["op_cpus"], "steady"), "s")
    m["peak_rss_mb"] = _metric(res["done"]["peak_rss_mb"], "MB")
    return m


def passes(res: dict) -> dict:
    """Pass walls and the cold pass's CPU, printed in the summary line,
    not gated."""
    if res["done"] is None:
        return {}
    return {"pass_s": _metric(_pass(res["op_walls"], "steady"), "s"),
            "cold_pass_s": _metric(_pass(res["op_walls"], "cold"), "s"),
            "cold_pass_cpu_s": _metric(_pass(res["op_cpus"], "cold"), "s")}


def etl_end_to_end(res: dict, inputs_bytes: int) -> dict:
    """The first load and merge in a fresh JVM, as a weekly batch runs
    them; a phase killed at its wall limit reports the wall until then."""
    m = {}
    for phase in ("load", "merge"):
        walls = res["op_walls"].get(("cold", phase))
        if walls:
            m[f"{phase}_s"] = _metric(walls[0], "s")
    if res["done"] is not None:
        stored = res["done"]["etl"][0]["stored_bytes"]
        m["stored_bytes_ratio"] = _metric(stored / inputs_bytes, "ratio")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an error, so the worker group is still killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "gov_ec_pipeline_etl_spark")):
        print(f"no gov_ec_pipeline_etl_spark package under {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    # Python-side temp files (DuckDB spill among them) stay in the work dir
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    w = WORKLOADS[args.workload]
    res = run(w, args.seed, args.seconds, bool(args.trace))
    done = res["done"]
    checked = sum(1 for (kind, _), v in res["op_walls"].items() if kind == "check" for _ in v)
    correct = done is not None and res["failed"] == 0 and checked == len(w.ops)
    if args.trace and done is not None:
        from perfbench.layers import layer_metrics, units

        values = layer_metrics(w.kind, done, res["setup"], os.cpu_count() or 1)
        metrics = {k: _metric(values[k], u) for k, u in units(w.kind).items()}
    else:
        metrics = end_to_end(res)
        if w.kind == "etl":
            metrics.update(etl_end_to_end(res, prepare(w, args.seed)["csv_bytes"]))
    for e in res["errors"]:
        print(f"failed: {e}", file=sys.stderr)
    ratio = res["failed"] / res["attempted"]
    shown = metrics if args.trace else {**metrics, **passes(res)}
    summary = " ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in shown.items())
    print(f"{w.name} seed={args.seed}: op_failed_ratio={ratio:.4g} "
          f"({res['failed']}/{res['attempted']}) {summary}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
