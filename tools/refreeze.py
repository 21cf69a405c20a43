#!/usr/bin/env python3
"""Re-freeze BASELINE.json from a BENCH_DETAIL file.

The freeze table and the CPU probe reference must come from the SAME
box state, so a later run can say "this box is N× the freeze box" and
normalise its 2× verdicts by the probe ratio instead of reading host
drift as violations. This tool:

- archives the previous freeze table as ``freezes_prev`` (one level
  of history; older tables live in git),
- writes ``freezes`` = the per-key values of the given BENCH_DETAIL
  run (sf0.1 + sf1 tiers),
- writes ``probe_ref`` = the probe block recorded in the SAME detail
  file (bench.py measures it at run start, outside timed regions).

Usage: refreeze.py BENCH_DETAIL.json
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(HERE, "BASELINE.json")


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    detail_path = sys.argv[1]
    with open(detail_path) as fh:
        detail = json.load(fh)
    with open(BASELINE) as fh:
        base = json.load(fh)

    freezes: dict[str, dict] = {}
    for k, v in detail["queries"].items():
        freezes.setdefault(k, {})["sf0.1"] = v
    for k, v in detail.get("tiers", {}).get("sf1", {}).get("queries", {}).items():
        freezes.setdefault(k, {})["sf1"] = v

    base["freezes_prev"] = base.get("freezes", {})
    base["freezes"] = freezes
    probe = detail.get("probe", {}).get("start")
    if probe:
        base["probe_ref"] = {
            **probe,
            "note": "measured by bench.cpu_probe at the start of the "
            "freeze run (same box state as the freezes)",
        }
    base["freezes_meta"] = {
        "source": os.path.basename(detail_path),
        "note": "full re-freeze from one bench run: freezes and "
        "probe_ref share one box state, so the 2x checker normalizes "
        "by the probe ratio. The previous table is kept as "
        "freezes_prev.",
    }
    with open(BASELINE, "w") as fh:
        json.dump(base, fh, indent=1)
    n1 = sum(1 for v in freezes.values() if "sf0.1" in v)
    n2 = sum(1 for v in freezes.values() if "sf1" in v)
    print(f"re-froze {n1} sf0.1 keys, {n2} sf1 keys; probe_ref={probe}")


if __name__ == "__main__":
    main()
