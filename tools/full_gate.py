"""Committed full-surface correctness artifact at driver scale.

The driver's CORRECTNESS_r{N}.json records only the alphabetical
first-50 registered queries (the frozen window); every round the judge
has re-proven the other ~140 by hand. This tool runs the ENTIRE
registered surface through the same oracle gate at sf0.01 and writes
one JSON artifact to commit (VERDICT r6 #7):

    python tools/full_gate.py --out CORRECTNESS_full_r7.json

Exit 0 only if every query is OK/rows-only. Reuses scale_gate's line
parser so the artifact carries the same per-query wall + eng/orc split
fields as the SCALE_sf*.json family.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scale_gate import SCALE_SKIPS, SKEW_SCALE_SKIPS, _gate, commit_stamp  # noqa: E402


def _skips_for(sf_dir: str) -> dict[str, str]:
    """Reuse scale_gate's sf-threshold skip selection from the directory
    name (ADVICE r7: an empty skip dict at sf>=0.5 hangs the gate on the
    known pathological oracle replays). sf-less paths are treated as
    small-scale (no skips), matching the tool's intended sf0.01 use.

    The scale token is read from the path BASENAME with a float-shaped
    pattern (ADVICE r8: `sf([0-9.]+)` on the full path matched the
    first 'sf…' anywhere and let 'sf0.1.bak' capture '0.1.', crashing
    float() before the gate started)."""
    import re

    m = re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(os.path.normpath(sf_dir)))
    sf = float(m.group(1)) if m else 0.0
    if sf < 0.5:
        return {}
    skips = dict(SCALE_SKIPS)
    if "skew" in sf_dir:
        skips.update(SKEW_SCALE_SKIPS)
    return skips


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True, help="artifact path to commit")
    args = ap.parse_args()

    commit = commit_stamp()
    skips = _skips_for(args.sf_dir)
    print(
        f"[full_gate] oracle gate over {args.sf_dir} at {commit} "
        f"({len(skips)} skips)",
        flush=True,
    )
    gate = _gate(args.sf_dir, skips)
    art = {"sf_dir": args.sf_dir, "commit": commit, "gate": gate}
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(art, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        f"[full_gate] {gate['n_ok']} OK + {gate['n_rows_only']} rows-only / "
        f"{gate['n_run']} run, exit {gate['exit_code']} -> {args.out}",
        flush=True,
    )
    return 1 if gate["exit_code"] else 0


if __name__ == "__main__":
    sys.exit(main())
