"""Raw column-count sweep of the ``etl`` load (see NOTES.md).

    python3 perfbench/etl_sweep.py [--limit SECONDS] [WIDTH ...]

For each width, writes a two-row ``clean`` resource holding WIDTH contract
columns (the business key and critical columns always among them) and
runs ``run_etl`` on it in a fresh JVM under a wall limit. Prints one line
per width: the first load's wall, or why it failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.etl_data import COLUMNS, draw_keys, write_resource  # noqa: E402
from perfbench.run import SETUP_LIMIT, Worker  # noqa: E402
from perfbench.workloads import WORK  # noqa: E402


def sweep_one(width: int, limit: float) -> str:
    import numpy as np

    data = os.path.join(WORK, "sweep", f"w{width}")
    tmp = os.path.join(WORK, "tmp")
    for d in (data, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    rng = np.random.default_rng(width)
    path = os.path.join(data, "clean.csv")
    write_resource(path, "clean", rng, draw_keys(rng, 2, 0), 2025, width=width)
    res = {"id": "r", "path": path, "last_modified": "x", "size": os.path.getsize(path),
           "url": "file://r", "format": "CSV"}
    cfg = {"kind": "etl", "ops": ["load"], "seconds": 0, "trace": False, "min_steady": 0,
           "cores": os.cpu_count() or 1, "tmp_dir": tmp, "load": [res], "load_keys": 2}
    worker = Worker(cfg, os.path.join(WORK, "sweep.log"))
    try:
        ev = worker.next(SETUP_LIMIT)
        if ev is None:
            return "set-up failed"
        while True:
            ev = worker.next(limit)
            if ev is None:
                return f"no result within {limit:.0f} s"
            if ev["ev"] == "op_end":
                return ev["error"] or f"{ev['wall']:.1f} s"
    finally:
        worker.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--limit", type=float, default=90.0)
    ap.add_argument("widths", type=int, nargs="*",
                    default=[8, 12, 16, 17, 18, 19, 20, 24, len(COLUMNS) - 1])
    args = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    for width in args.widths:
        t0 = time.perf_counter()
        outcome = sweep_one(width, args.limit)
        print(json.dumps({"raw_columns": width, "load": outcome[:300],
                          "run_wall_s": round(time.perf_counter() - t0, 1)}), flush=True)


if __name__ == "__main__":
    main()
