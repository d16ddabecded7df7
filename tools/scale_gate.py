"""One-command reproducible scale proof: generate → gate → bench → JSON.

The round-4 sf1/sf3 scale runs found two real defects (a decimal drift,
a quadratic self-join) but their evidence lived in deleted parquet and
/tmp logs. This harness makes the proof reproducible from a clean tree:

    python tools/scale_gate.py --sf 1                  # gate + bench, ~40 min
    python tools/scale_gate.py --sf 3 --bench-only     # bench trajectory point
    python tools/scale_gate.py --sf 0.1 --out SCALE_smoke.json

Steps (all subprocesses, so each gets the same fresh-JVM conditions the
verify skill documents):
  1. deterministic data generation via tools/gen_testdata.py (seed and
     row-count parameters are committed code; the JSON records both),
  2. the full DuckDB-oracle gate (`python -m gov_ec_pipeline_etl_spark.oracle`),
     with the standard sf>=0.5 exclusions recorded BY NAME WITH REASON —
     no silent caps,
  3. bench.py at the generated directory,
  4. one JSON summary written to --out (default SCALE_sf{sf}.json at the
     repo root) — commit it; that file IS the scale evidence.

No skipped-by-default queries remain on the UNIFORM gate (round 10):
d03's skip died with the round-9 hash-multiset comparator and s02's
with the round-10 bounded bucketing-replay oracle. --skew at sf>=0.5
still names combinatorial-output skips below. Pass --rows-only-skips
to still run any skipped queries' engine side and record row counts.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE_SKIPS: dict[str, str] = {}
# s02's uniform-gate skip was REMOVED in round 10: its oracle is now
# the bounded bucketing replay (equality-tested against the retained
# quadratic ground truth), so the ">20 min exact scan" reason is gone.
# d03's was REMOVED in round 9: its stated reason ("diff cost is
# harness-bound") died with the hash-multiset comparator — measured at
# sf1 uniform: 130 853 276 rows hash-green in 798 s (eng 61.6 /
# orc 359.4 / cmp 92.0). It remains skipped on --skew below, where the
# reason is different in kind.
#
# Additional skips for --skew at sf>=0.5: queries whose OUTPUT is
# combinatorially quadratic on a hot key — not an engine bottleneck
# (DuckDB blows up identically), the query's own semantics on
# adversarial keys. Verified green on skewed data at sf0.01 (full
# skew-smoke gate) and on uniform data at every scale.
SKEW_SCALE_SKIPS = {
    "d03_simhash": "doc-level pair output is combinatorial in clone-"
    "family sizes; the zipf(1.2) vocab concentrates identical "
    "fingerprints, so the sf1-skew answer itself is O(hot-family²) "
    "(hundreds of millions of rows in BOTH engines) — u18 is the "
    "density-guard election and stays in the gate. Green at sf0.01 "
    "skew and hash-green at sf1 uniform (130.9M rows, round 9).",
    "v01_stream_stream_join": "click×purchase attribution emits the "
    "per-user cross product; a 30%-hot user at sf1 holds ~60k clicks × "
    "~60k purchases → ~3.6e9 output rows (engine AND oracle). "
    "Root-caused from a live gate: the hot task sat in "
    "SymmetricHashJoinStateManager scanning the hot key's value list. "
    "Green at sf0.01 skew and all uniform scales.",
}


def commit_stamp(repo: str = REPO) -> str | None:
    """HEAD's short hash, suffixed ``-dirty`` when tracked files differ
    from it; None outside a git checkout."""
    def git(*args: str) -> subprocess.CompletedProcess:
        return subprocess.run(["git", *args], cwd=repo, capture_output=True,
                              text=True, check=False)

    try:
        head = git("rev-parse", "--short", "HEAD").stdout.strip()
        dirty = git("diff", "--quiet", "HEAD", "--").returncode == 1
    except OSError:
        return None
    if not head:
        return None
    return head + "-dirty" if dirty else head


_LINE = re.compile(r"^(\w+): (OK|MISMATCH|ERROR|rows-only)\b(.*?) \[([0-9.]+)s\]$")


def _gen(sf: float, outdir: str, skew: bool = False) -> dict[str, int]:
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import gen_testdata

    t0 = time.time()
    gen_testdata.generate(sf, outdir, skew=skew)
    rows = {}
    import pyarrow.parquet as pq

    for fn in sorted(os.listdir(outdir)):
        if fn.endswith(".parquet"):
            rows[fn[:-8]] = pq.ParquetFile(os.path.join(outdir, fn)).metadata.num_rows
    return {
        "seed": gen_testdata.SEED,
        "skew": skew,
        "rows": rows,
        "wall_sec": round(time.time() - t0, 1),
    }


def _gate(sf_dir: str, skips: dict[str, str]) -> dict:
    cmd = [sys.executable, "-m", "gov_ec_pipeline_etl_spark.oracle", sf_dir]
    for name in sorted(skips):
        cmd += ["--skip", name]
    t0 = time.time()
    proc = subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, check=False
    )
    results, failures = {}, []
    for line in proc.stdout.splitlines():
        m = _LINE.match(line.strip())
        if not m:
            continue
        name, status, detail, secs = m.groups()
        results[name] = {"status": status, "sec": float(secs)}
        # engine-vs-oracle wall split (oracle.py appends it to matched
        # rows) — carried into the artifact so slow gate entries
        # attribute without a rerun (the r5/r6 x58 chases)
        split = re.search(
            r"eng ([0-9.]+)s orc ([0-9.]+)s(?: cmp ([0-9.]+)s)?", detail
        )
        if split:
            results[name]["eng_sec"] = float(split.group(1))
            results[name]["orc_sec"] = float(split.group(2))
            if split.group(3) is not None:
                # harness-side canonicalize+diff wall (large results) —
                # attributes gate entries that are neither eng nor orc
                results[name]["cmp_sec"] = float(split.group(3))
        if status in ("MISMATCH", "ERROR"):
            failures.append(f"{name}: {status}{detail}")
    return {
        "exit_code": proc.returncode,
        "n_run": len(results),
        "n_ok": sum(1 for r in results.values() if r["status"] == "OK"),
        "n_rows_only": sum(1 for r in results.values() if r["status"] == "rows-only"),
        "failures": failures,
        "skipped": skips,
        "wall_sec": round(time.time() - t0, 1),
        "per_query_sec": {n: r["sec"] for n, r in sorted(results.items())},
        "per_query_split": {
            n: {
                "eng": r["eng_sec"],
                "orc": r["orc_sec"],
                **({"cmp": r["cmp_sec"]} if "cmp_sec" in r else {}),
            }
            for n, r in sorted(results.items())
            if "eng_sec" in r
        },
    }


def _bench(sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, "bench.py"], cwd=REPO, env=env,
        capture_output=True, text=True, check=False,
    )
    for line in reversed(proc.stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    return {"error": f"bench produced no JSON (exit {proc.returncode})"}


def _rows_only(sf_dir: str, names: list[str]) -> dict[str, int]:
    cmd = [sys.executable, "-", sf_dir, *names]
    script = (
        "import sys\n"
        "from gov_ec_pipeline_etl_spark.plans import all_queries\n"
        "from gov_ec_pipeline_etl_spark.session import get_spark\n"
        "from gov_ec_pipeline_etl_spark.caching import released\n"
        "spark = get_spark('scale-gate-rows')\n"
        "qs = all_queries()\n"
        "for n in sys.argv[2:]:\n"
        "    with released(qs[n].spark(spark, sys.argv[1])) as df:\n"
        "        print(f'ROWS {n} {df.count()}', flush=True)\n"
    )
    proc = subprocess.run(
        cmd, cwd=REPO, input=script, capture_output=True, text=True, check=False
    )
    out = {}
    for line in proc.stdout.splitlines():
        if line.startswith("ROWS "):
            _, name, n = line.split()
            out[name] = int(n)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", default=None, help="summary JSON path")
    ap.add_argument("--data-dir", default=None, help="generation dir (default .localdata/sf{sf})")
    ap.add_argument("--keep-data", action="store_true", help="keep generated parquet")
    ap.add_argument("--bench-only", action="store_true", help="skip the oracle gate")
    ap.add_argument("--gate-only", action="store_true", help="skip the bench")
    ap.add_argument(
        "--rows-only-skips", action="store_true",
        help="run the skipped queries' engine side and record row counts",
    )
    ap.add_argument(
        "--skew", action="store_true",
        help="generate the zipf/hot-key skewed variant (30%%-hot foreign "
        "keys, zipf(1.2) document vocabulary) — the data-level proof for "
        "the salting / AQE skew-join machinery",
    )
    args = ap.parse_args()

    sf_tag = f"{args.sf:g}" + ("_skew" if args.skew else "")
    data_dir = args.data_dir or os.path.join(REPO, ".localdata", f"sf{sf_tag}")
    out_path = args.out or os.path.join(REPO, f"SCALE_sf{sf_tag}.json")
    commit = commit_stamp()
    summary: dict = {
        "sf": args.sf, "skew": args.skew, "data_dir": data_dir,
        "commit": commit, "generator": None,
    }

    print(f"[scale_gate] generating sf={sf_tag} at {data_dir}", flush=True)
    summary["generator"] = _gen(args.sf, data_dir, skew=args.skew)

    skips = dict(SCALE_SKIPS) if args.sf >= 0.5 else {}
    if args.skew and args.sf >= 0.5:
        skips.update(SKEW_SCALE_SKIPS)
    try:
        if not args.bench_only:
            print(f"[scale_gate] oracle gate ({len(skips)} skips)", flush=True)
            summary["gate"] = _gate(data_dir, skips)
            print(
                f"[scale_gate] gate: {summary['gate']['n_ok']} OK / "
                f"{summary['gate']['n_run']} run, exit {summary['gate']['exit_code']}",
                flush=True,
            )
            if args.rows_only_skips and skips:
                summary["gate"]["skipped_rows"] = _rows_only(data_dir, sorted(skips))
        if not args.gate_only:
            print("[scale_gate] bench", flush=True)
            summary["bench"] = _bench(data_dir)
    finally:
        if not args.keep_data:
            shutil.rmtree(data_dir, ignore_errors=True)
            summary["data_dir"] += " (removed; regenerate with the committed seed)"
        with open(out_path, "w", encoding="utf-8") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"[scale_gate] wrote {out_path}", flush=True)

    gate_bad = bool(summary.get("gate", {}).get("exit_code"))
    bench_bad = "error" in summary.get("bench", {})
    return 1 if (gate_bad or bench_bad) else 0


if __name__ == "__main__":
    sys.exit(main())
