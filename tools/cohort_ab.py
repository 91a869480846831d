#!/usr/bin/env python3
"""Interleaved A/B of the cohort benchmark between two checkouts.

    python3 tools/cohort_ab.py --parent DIR --parent-rev REV --change DIR \
        --what "one line on the change" --out controls/NAME.json

For each benchmark workload, pair ``i`` of 10 runs ``cohortbench/run.py
--seed i --seconds 1 --trace 0`` once in each checkout, one run at a time,
the parent first on odd pairs and the change first on even ones; then one
``--trace 1`` run of seed 1 on each side records the per-layer ``.jobs``
counts.  The payload keeps every run's end-to-end metrics, ``correct`` and
``failed``, plus per metric the medians, the parent's interquartile range
and the pairs the change won (lower is better for every end-to-end
metric).  Exit status 1 when any run is not correct or has failures.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

WORKLOADS = ("etl_large", "etl_v2_files")
METRICS = ("setup_s", "cold_convert_s", "peak_rss_mb")
PAIRS = 10


def run_once(checkout: str, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, "cohortbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} in {checkout} exited {proc.returncode}: "
                           f"{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    names = sorted(m for m in out["metrics"] if m.endswith(".jobs")) if trace else METRICS
    return {"correct": out["correct"], "failed": out["failed"],
            **{m: out["metrics"][m]["value"] for m in names}}


def summarize(pairs: list[dict]) -> dict:
    out = {}
    for m in METRICS:
        p = [pr["parent"][m] for pr in pairs]
        c = [pr["change"][m] for pr in pairs]
        q = statistics.quantiles(p, n=4, method="inclusive")
        out[m] = {
            "parent_median": statistics.median(p),
            "change_median": statistics.median(c),
            "parent_iqr": q[2] - q[0],
            "change_wins": sum(b < a for a, b in zip(p, c)),
            "pairs": len(pairs),
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--parent-rev", required=True, help="the parent commit's id")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--what", required=True, help="one line on what the change does")
    ap.add_argument("--out", required=True, help="payload JSON path")
    args = ap.parse_args()
    sides = {"parent": args.parent, "change": args.change}
    payload = {
        "what": args.what,
        "parent": args.parent_rev,
        "host": f"{os.cpu_count()} cores; cohortbench/run.py pins the Spark host",
        "protocol": f"tools/cohort_ab.py: pair i of {PAIRS} runs seed i on both sides "
                    "with --seconds 1 --trace 0, parent first on odd pairs; then "
                    "seed 1 with --trace 1 on each side for the .jobs counts",
        "untraced": {},
        "traced_jobs": {},
    }
    runs = []
    for w in WORKLOADS:
        pairs = []
        for i in range(1, PAIRS + 1):
            order = ["parent", "change"] if i % 2 else ["change", "parent"]
            pair = {"pair": i, "seed": i, "first": order[0]}
            for side in order:
                pair[side] = run_once(sides[side], w, i, trace=0)
            pairs.append(pair)
            print(json.dumps({"workload": w, **pair}), file=sys.stderr, flush=True)
        traced = {"seed": 1, **{s: run_once(d, w, 1, trace=1) for s, d in sides.items()}}
        payload["untraced"][w] = {"workload": w, "pairs": pairs, "summary": summarize(pairs)}
        payload["traced_jobs"][w] = traced
        runs += [pr[s] for pr in pairs for s in sides] + [traced[s] for s in sides]
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({w: u["summary"] for w, u in payload["untraced"].items()}))
    return 0 if all(r["correct"] and r["failed"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
