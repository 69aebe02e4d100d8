#!/usr/bin/env python
"""30-second host-window probe: runs the bench's two machine-state
probes (pure-JVM compute, shuffle-flavored groupBy) in a fresh session
and prints one JSON line. Used during optimization rounds to decide
whether a wall-clock measurement window is usable before paying for a
full bench run (r15/r16: compute probe swung 0.10 -> 1.94 s across
sessions on this sandbox)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pipe_s_spark.session import get_spark

    spark = get_spark(
        app_name="host_probe", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    def _probe() -> float:
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id * 3 + 1) as s").write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    def _probe_shuffle() -> float:
        t0 = time.perf_counter()
        spark.range(8_000_000).selectExpr("id % 1000000 as k", "id as v").groupBy(
            "k"
        ).agg({"v": "sum"}).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    _probe()
    c = round(min(_probe() for _ in range(3)), 4)
    _probe_shuffle()
    s = round(min(_probe_shuffle() for _ in range(3)), 4)
    print(json.dumps({"probe_sec": c, "probe_shuffle_sec": s}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
