"""Pair a parent checkout and a change on the end-to-end metrics.

    python3 perfbench/pair.py PARENT_DIR CHANGE_DIR [--runs 10]
        [--workloads search,ingest] [--first-seed 1000]

Both directories are checkouts whose ``perfbench/`` and ``BENCHMARK.json``
are identical (a change that claims a gain may not edit the benchmark).
For each seed the two sides run back to back with the same arguments, and
the side that goes first alternates. Per workload and metric it prints
each side's median and quartiles, the ratio of medians, the pairs the
change won (ties count for neither) and whether the change's median is
worse than the parent's by more than the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{checkout} {workload} seed {seed} failed:\n"
                           f"{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        if json.load(f) != spec:
            ap.error("the two checkouts define different benchmarks")
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    sides = {"parent": args.parent, "change": args.change}
    for w in workloads:
        got = {"parent": [], "change": []}
        for i in range(args.runs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                got[side].append(run_once(sides[side], w, args.first_seed + i,
                                          spec["run_seconds"]))
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            par = [r[name] for r in got["parent"]]
            chg = [r[name] for r in got["change"]]
            wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
            mp, mc = statistics.median(par), statistics.median(chg)
            worse = (mc - mp) / mp if lower else (mp - mc) / mp
            print(json.dumps({
                "workload": w, "metric": name, "unit": m["unit"],
                "parent": {"median": mp, "quartiles": statistics.quantiles(par, n=4)},
                "change": {"median": mc, "quartiles": statistics.quantiles(chg, n=4)},
                "ratio_change_to_parent": mc / mp,
                "change_wins": f"{wins}/{args.runs}",
                "regressed_beyond_bound": worse > m["bound"],
            }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
