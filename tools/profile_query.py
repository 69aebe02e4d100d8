"""Per-query stage-level profiler (guide §1): runs named queries with
the bench's exact methodology (table warmup, noop sink, warmup run +
timed runs) in a UI-enabled session, then attributes wall time via the
Spark REST API — jobs per execution, stages, task counts, executor run
time vs wall (parallelism), shuffle bytes, and the slowest stages.

Usage: python tools/profile_query.py <sf_dir> <query> [query...]
Prints one JSON block per query to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_up


def rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.loads(r.read())


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    from pipe_s_spark.session import get_spark

    spark = get_spark(
        app_name="profile_query",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    app_id = sc.applicationId
    base = f"http://localhost:{sc.uiWebUrl.rsplit(':', 1)[1]}/api/v1/applications/{app_id}"

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    warm_up(spark, sf_dir)

    for name in names:
        if name not in qs:
            print(json.dumps({"query": name, "error": "unknown"}))
            continue
        # warmup run (uncounted, like the bench)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t_build_warm = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        t_warm = time.perf_counter() - t0

        sc.setJobGroup(f"prof_{name}", name)
        jobs_before = {j["jobId"] for j in rest(base, "/jobs")}
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t_build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        t_total = time.perf_counter() - t0
        sc.setJobGroup(None, None)

        jobs = [j for j in rest(base, "/jobs") if j["jobId"] not in jobs_before]
        # job timeline: per-job wall and inter-job driver gaps
        def _ms(ts: str) -> float:
            import datetime as dt

            return dt.datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp() * 1000

        tl = sorted(
            (
                _ms(j["submissionTime"]),
                _ms(j["completionTime"]) if j.get("completionTime") else None,
                j["jobId"],
            )
            for j in jobs
            if j.get("submissionTime")
        )
        job_walls = [round((c - s)) for s, c, _ in tl if c]
        gaps = [round(tl[i + 1][0] - tl[i][1]) for i in range(len(tl) - 1) if tl[i][1]]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            try:
                for att in rest(base, f"/stages/{sid}"):
                    stages.append(att)
            except Exception:
                pass
        st = [
            {
                "id": s["stageId"],
                "name": s["name"].split("\n")[0][:60],
                "tasks": s["numCompleteTasks"],
                "runtime_ms": s.get("executorRunTime", 0),
                "cpu_ms": round(s.get("executorCpuTime", 0) / 1e6, 1),
                "in_mb": round(s.get("inputBytes", 0) / 1e6, 2),
                "sh_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 2),
                "sh_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 2),
                "wall_ms": round(
                    (s.get("completionTime") is not None)
                    and (
                        time.mktime(
                            time.strptime(
                                s["completionTime"][:19], "%Y-%m-%dT%H:%M:%S"
                            )
                        )
                        - time.mktime(
                            time.strptime(
                                s["firstTaskLaunchedTime"][:19],
                                "%Y-%m-%dT%H:%M:%S",
                            )
                        )
                    )
                    * 1000
                    if s.get("firstTaskLaunchedTime")
                    else 0
                ),
            }
            for s in stages
            if s.get("status") == "COMPLETE"
        ]
        st.sort(key=lambda x: -x["runtime_ms"])
        out = {
            "query": name,
            "warm_sec": round(t_warm, 3),
            "timed_sec": round(t_total, 3),
            "build_sec": round(t_build, 3),
            "build_warm_sec": round(t_build_warm, 3),
            "n_jobs": len(jobs),
            "job_walls_ms": job_walls,
            "gaps_ms": gaps,
            "n_stages": len(st),
            "sum_task_runtime_ms": sum(s["runtime_ms"] for s in st),
            "stages": st[:10],
        }
        print(json.dumps(out))
        sys.stdout.flush()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
