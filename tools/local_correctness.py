"""Local replica of the driver's correctness gate, run with a VANILLA
SparkSession (no pipe_s_spark.session confs) so environment-dependence
bugs surface here instead of in CORRECTNESS_r{N}.json.

Usage: python tools/local_correctness.py [sf_dir] [query ...]

A FULL sweep (no query filter) also writes ``CORRECTNESS_LOCAL.json``
at the repo root — one row per registered query in the same shape as
the driver's CORRECTNESS_r{N}.json — so every round ships an auditable
whole-surface correctness artifact instead of only the driver's
rotating ~50-query sample (the r7 verdict's top ask).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from tests.oracle_harness import compare, duck_con

#: Full sweeps at the driver's gate scale (sf0.01) write the committed
#: per-round artifact; other scales write a suffixed sibling (so an
#: sf0.1 validation sweep can't clobber the gate-replica artifact).
#: Override with SPARK_GRAFT_CORRECTNESS_OUT.
ARTIFACT = os.path.join(ROOT, "CORRECTNESS_LOCAL.json")


def _artifact_path(sf_dir: str) -> str:
    env = os.environ.get("SPARK_GRAFT_CORRECTNESS_OUT")
    if env:
        return env
    if sf_dir.rstrip("/").endswith("sf0.01"):
        return ARTIFACT
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return ARTIFACT.replace(".json", f".{tag}.json")


def _row_from_error(msg: str, spark_rows: int | None) -> dict:
    """Map a harness AssertionError onto the driver's row shape: the
    harness asserts columns first, then row count, then values."""
    row = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": False,
        "spark_rows": spark_rows,
        "oracle_rows": None,
        "err": msg[:300],
    }
    if msg.startswith("columns:"):
        row["schema_match"] = False
    elif msg.startswith("row count:"):
        row["rows_match"] = False
    return row


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.appName("local_correctness")
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duck_con(sf_dir)
    results: dict[str, str] = {}
    artifact: dict[str, dict] = {}
    t_start = time.time()
    for name in sorted(queries):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            n = df.count()
            compare(df, con, oracles[name])
            results[name] = "pass"
            artifact[name] = {
                "rows_match": True,
                "schema_match": True,
                "hash_match": True,
                "spark_rows": n,
                "oracle_rows": n,
                "err": None,
            }
        except AssertionError as e:
            results[name] = f"MISMATCH: {e}"
            artifact[name] = _row_from_error(str(e), None)
        except Exception as e:  # noqa: BLE001
            results[name] = f"ERR: {type(e).__name__}: {str(e)[:300]}"
            artifact[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(e).__name__}: {str(e)[:300]}",
            }
        print(f"{name:32s} {time.time() - t0:6.2f}s  {results[name][:160]}", flush=True)
    bad = {k: v for k, v in results.items() if v != "pass"}
    if not only:
        meta = {
            "_meta": {
                "sf_dir": sf_dir,
                "queries": len(artifact),
                "pass": sum(1 for v in results.values() if v == "pass"),
                "bad": len(bad),
                "elapsed_sec": round(time.time() - t_start, 1),
            }
        }
        out_path = _artifact_path(sf_dir)
        with open(out_path, "w") as f:
            json.dump({**meta, **artifact}, f, indent=1)
        print(f"wrote {out_path}")
    print(json.dumps({"checked": len(results), "bad": len(bad)}))
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
