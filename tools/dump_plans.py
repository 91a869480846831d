"""Generate PLANS.md: physical-plan quality metrics for every registered
query at sf0.01 — exchanges (shuffles), broadcast vs sort-merge joins,
scan-level filter pushdown and column pruning.  This is the artifact we
review after each operator lands: the plan we WANT, not just the first one
that passed (see README design rule 1).

Usage: python tools/dump_plans.py [--full name ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main():
    from phenoxtract_spark import get_spark

    import __spark_entry__ as ent

    full = sys.argv[2:] if len(sys.argv) > 2 and sys.argv[1] == "--full" else []
    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    lines = [
        "# PLANS — physical-plan audit (generated by tools/dump_plans.py at sf0.01)",
        "",
        "Ex = shuffle exchanges, BHJ = broadcast hash joins, SMJ = sort-merge",
        "joins, scans = parquet scans (pruned column count ≤ table width).",
        "Plans captured BEFORE execution (AQE may further coalesce/replan).",
        "Queries whose expensive narrow relations materialize once",
        "(session.materialize — see README design rule 7: LSH candidates/",
        "bands, fingerprints, IVF assignments, tf) show only the plan after",
        "that barrier here: scans/exchanges of the materialized subtree ran",
        "in its eager job and are audited in the operator docstrings instead.",
        "",
        "| query | Ex | BHJ | SMJ | scans (pruned cols) | pushed filters |",
        "|---|---|---|---|---|---|",
    ]
    details = []
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            lines.append(f"| {name} | - | - | - | error: {type(e).__name__} | |")
            continue
        ex = plan.count("Exchange") - plan.count("BroadcastExchange")
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        scan_desc = "; ".join(
            f"{len([c for c in s.split(',') if c.strip()])}c" for s in scans
        ) or "-"
        pushed = sorted(
            {m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m}
        )
        pushed_desc = "yes" if any(pushed) else ("-" if not scans else "none")
        lines.append(f"| {name} | {ex} | {bhj} | {smj} | {scan_desc} | {pushed_desc} |")
        if name in full:
            details.append(f"\n## {name}\n\n```\n{plan[:8000]}\n```\n")
    out = "\n".join(lines) + "\n" + "\n".join(details)
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write(out)
    print(f"wrote {path} ({len(qs)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
