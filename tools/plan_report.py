"""Generate PLAN_REPORT.md: one row per registered query summarizing
its physical plan — exchange count, scan count, predicate pushdown,
join strategies, Python stages. The compact audit of "is this the plan
you'd want at 100 TB" across the whole surface.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pipe_s_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="plan_report", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in sorted(entrymod.queries().items()):
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            rows.append((name, "ERR", "", "", "", "", str(e)[:60]))
            continue
        n_ex = len(re.findall(r"\bExchange hashpartitioning", plan))
        n_bc = len(re.findall(r"\bBroadcastExchange", plan))
        n_scan = len(re.findall(r"\bFileScan parquet|\bScan parquet", plan))
        pushed = "y" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        joins = sorted(
            set(re.findall(r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", plan))
        )
        py = sorted(
            set(
                re.findall(
                    r"\b(ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|BatchEvalPython)", plan
                )
            )
        )
        rows.append(
            (
                name,
                str(n_ex),
                str(n_bc),
                str(n_scan),
                pushed,
                ",".join(j.replace("Join", "") for j in joins) or "-",
                ",".join(py) or "-",
            )
        )

    with open(os.path.join(ROOT, "PLAN_REPORT.md"), "w") as f:
        f.write(
            f"# PLAN REPORT (generated by tools/plan_report.py at {sf_dir})\n\n"
            "Per-query physical-plan summary: shuffle exchanges, broadcast\n"
            "exchanges, parquet scans, predicate pushdown reaching a scan,\n"
            "join strategies, and Python (Arrow) stages. `BatchEvalPython`\n"
            "(row-at-a-time Python) appearing anywhere is a bug — enforced by\n"
            "tests/test_plan_quality.py.\n\n"
            "| query | shuffles | bcasts | scans | pushdown | joins | python |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(r[:7]) + " |\n")
    print(f"wrote PLAN_REPORT.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
