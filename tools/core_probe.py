"""Core-scaling probe on the heavy tier at a real (multi-task) scale.

The driver's 8-vs-32-core bench ratios at sf0.1 are ~1 by construction
(single-file, one-row-group inputs → one task; see bench.py docstring).
This probe records the parallelism signal where it is meaningful: the
heavy queries at sf1, each in a FRESH JVM per (query, cores) cell
(warmup + min-of-2 steady, noop sink — bench.py methodology), writing
one committed JSON artifact:

    python tools/core_probe.py --sf-dir .localdata/sf1 --out SCALE_CORES_sf1.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    "d02_minhash_lsh",
    "u31_semantic_neardup",
    "u62_substring_runs",
    "u68_capped_funnel",
]

_CHILD = """
import sys, time
sys.path.insert(0, {repo!r})
from gov_ec_pipeline_etl_spark.plans import all_queries
from gov_ec_pipeline_etl_spark.session import get_spark
spark = get_spark("core-probe", extra_conf={{"spark.ui.showConsoleProgress": "false"}})
spark.sparkContext.setLogLevel("ERROR")
q = all_queries()[{name!r}]
times = []
for _ in range(3):
    t0 = time.perf_counter()
    q.spark(spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
    times.append(round(time.perf_counter() - t0, 2))
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
print("RESULT", times[0], min(times[1:]))
"""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=".localdata/sf1")
    ap.add_argument("--out", default="SCALE_CORES_sf1.json")
    ap.add_argument("--cores", nargs="+", type=int, default=[8, 32])
    args = ap.parse_args()

    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
        capture_output=True, text=True, check=False,
    ).stdout.strip() or None

    results: dict[str, dict[str, dict[str, float]]] = {}
    for name in QUERIES:
        results[name] = {}
        for cores in args.cores:
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, "-c", _CHILD.format(
                    repo=REPO, name=name, sf_dir=os.path.abspath(args.sf_dir))],
                env=env, capture_output=True, text=True, cwd=REPO,
            )
            line = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT")]
            if p.returncode != 0 or not line:
                print(f"{name} cores={cores}: FAILED\n{p.stderr[-2000:]}")
                return 1
            cold, steady = (float(x) for x in line[0].split()[1:])
            results[name][str(cores)] = {
                "cold_s": cold, "steady_s": steady,
                "wall_s": round(time.time() - t0, 1),
            }
            print(f"{name} cores={cores}: steady={steady} cold={cold}", flush=True)

    if len(set(args.cores)) >= 2:
        lo, hi = (str(c) for c in sorted(set(args.cores))[:2])
        for name, r in results.items():
            if lo in r and hi in r and r[hi]["steady_s"]:
                r["ratio_low_over_high"] = round(
                    r[lo]["steady_s"] / r[hi]["steady_s"], 2
                )
    art = {
        "commit": commit,
        "sf_dir": args.sf_dir,
        "method": "fresh JVM per (query, cores) cell; warmup + min-of-2 "
                  "steady via noop sink; SPARK_GRAFT_CPUS -> local[N] "
                  "(session.py)",
        "queries": results,
    }
    with open(os.path.join(REPO, args.out), "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
