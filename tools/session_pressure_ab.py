"""Interleaved A/B for a WHOLE-SESSION storage-pressure tax (r15
verdict item 7 / what's-wrong #3): r15 added ~10 eager localCheckpoints
and 7 memo tables to session lifetime, and the same round's captures
showed an unattributed ~0.5x band on tail queries plus agg_salted_skew
+40% with no code change. Hypothesis: checkpoint/memo blocks pinned in
executor storage tax later queries (GC pressure, storage-memory
competition).

Protocol (ONE session, so host drift cancels between phases):
  A: measure the tail set (1 discarded warmup + median of 3, the
     bench's exact per-query methodology);
  P: build pressure — run each memo-building / checkpoint-heavy query
     once (their artifacts stay live for the session, exactly the
     state a mid-bench tail query sees);
  B: re-measure the same tail set.
Records persisted-RDD count and storage bytes at each phase boundary
via SparkContext.getRDDStorageInfo. Prints one JSON block.

A B/A ratio near 1.0 = no session tax (the r15 tail band was host
noise); a systematic B/A >> 1 with storage growth = pressure confirmed
(then bound the checkpoints or unpersist on eviction).

Usage: python tools/session_pressure_ab.py [sf_dir]
"""

from __future__ import annotations

import json
import statistics
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAIL = [
    "window_lag_lead",
    "pivot_event_types",
    "orders_priority_trend",
    "nation_share_of_region",
    "agg_salted_skew",
    "customer_segment_value",
    "lineitem_discount_response",
    "text_heavy_tokens",
    "customer_pareto",
]

PRESSURE = [
    "sim_cosine_topk",
    "sim_ivf_topk",
    "sim_ivf_trained",
    "sim_lsh_buckets",
    "sim_centroid_confusion",
    "dedup_simhash_pairs",
    "events_anomaly_mad",
    "stats_median_profile",
    "orders_market_basket",
    "orders_rfm_segments",
    "graph_pagerank",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pipe_s_spark.session import get_spark

    spark = get_spark(
        app_name="session_pressure_ab",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from pipe_s_spark.sources import TABLES, load_table

    qs = entrymod.queries()
    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    spark.range(256).repartition(int(sc.defaultParallelism)).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    def storage() -> dict:
        infos = sc._jsc.sc().getRDDStorageInfo()
        return {
            "persisted_rdds": len(infos),
            "mem_bytes": int(sum(i.memSize() for i in infos)),
            "disk_bytes": int(sum(i.diskSize() for i in infos)),
        }

    def measure(name: str) -> float:
        samples = []
        for _ in range(4):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        return round(statistics.median(samples[1:]), 4)

    out: dict = {"storage_start": storage()}
    out["tail_a"] = {n: measure(n) for n in TAIL if n in qs}
    out["storage_after_a"] = storage()
    t0 = time.perf_counter()
    for n in PRESSURE:
        if n in qs:
            qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
    out["pressure_build_sec"] = round(time.perf_counter() - t0, 2)
    out["storage_after_pressure"] = storage()
    out["tail_b"] = {n: measure(n) for n in TAIL if n in qs}
    out["storage_end"] = storage()
    ratios = {
        n: round(out["tail_b"][n] / out["tail_a"][n], 3)
        for n in out["tail_a"]
        if out["tail_a"][n]
    }
    out["b_over_a"] = ratios
    out["b_over_a_median"] = round(statistics.median(ratios.values()), 3)
    spark.stop()
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
