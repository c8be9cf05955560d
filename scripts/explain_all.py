#!/usr/bin/env python
"""Dump the executed physical plan of every contract query to PLANS.md —
the `.explain("formatted")` review artifact (plan-quality invariants are
asserted in tests/test_scale_paths.py; this file is the human-readable
evidence)."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    from samu_ocr_extraction_poc_spark.contract import QUERIES
    from samu_ocr_extraction_poc_spark.session import get_spark

    # get_spark's defaults, the session the queries run in:
    # local[$SPARK_GRAFT_CPUS] (the cores this process may run on when it
    # is unset) with twice as many shuffle partitions
    spark = get_spark("explain")
    master = spark.sparkContext.master
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    lines = [
        "# PLANS — physical plans of the contract queries",
        "",
        f"Generated by scripts/explain_all.py at {SF} on {master} with {partitions}",
        "shuffle partitions (plan shapes, not data volumes). Summary per query:",
        "exchanges / broadcast joins / sort-merge joins / scans, then the",
        "formatted plan (truncated).",
        "",
    ]
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, SF)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # pragma: no cover
            lines += [f"## {name}", "", f"ERROR: {e}", ""]
            continue
        # summary counts from the compact executed plan (the formatted string
        # repeats operators in its per-node detail sections)
        compact = df._jdf.queryExecution().executedPlan().toString()
        ex = len(re.findall(r"Exchange", compact))
        bhj = len(re.findall(r"BroadcastHashJoin", compact))
        smj = len(re.findall(r"SortMergeJoin", compact))
        scans = len(re.findall(r"FileScan", compact))
        trunc = "\n".join(plan.splitlines()[:60])
        lines += [
            f"## {name}",
            "",
            f"exchanges={ex} broadcast_joins={bhj} sort_merge_joins={smj} scans={scans}",
            "",
            "```",
            trunc,
            "```",
            "",
        ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out} ({len(QUERIES)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
