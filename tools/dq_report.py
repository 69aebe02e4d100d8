"""Operational data-quality CLI: run the standard expectations suites
(the same ones the `dq_expectations` / `dq_corpus_integrity` oracle
queries register) against any sf dir and print one JSON line per check
— the artifact a nightly quality cron appends to its ledger.

Usage: python tools/dq_report.py [sf_dir] [--fail-on-violation]
Exit code 1 with --fail-on-violation if any check fails (CI-gate mode).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    fail_on_violation = "--fail-on-violation" in sys.argv

    from pipe_s_spark.queries_advanced import q_dq_corpus_integrity, q_dq_expectations
    from pipe_s_spark.session import get_spark

    spark = get_spark(app_name="dq_report")
    spark.sparkContext.setLogLevel("ERROR")
    rows = (
        q_dq_expectations(spark, sf_dir)
        .unionByName(q_dq_corpus_integrity(spark, sf_dir))
        .collect()
    )
    any_fail = False
    for r in rows:
        d = r.asDict()
        any_fail = any_fail or not d["passed"]
        print(json.dumps(d, default=str))
    return 1 if (fail_on_violation and any_fail) else 0


if __name__ == "__main__":
    raise SystemExit(main())
