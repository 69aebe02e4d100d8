"""The repository benchmark: one command that generates a workload's
inputs from a seed, runs the program on them, checks the outputs and
prints every metric by name with its unit.

    python3 perfbench/run.py --workload cdc_sync --seed 1 --seconds 10 --trace 0

Workloads (both on ``local[nproc]``, one generator process each):

- ``cdc_sync``: a replicator catching up. One stream drains a backlog of
  change files (snapshot first) through the runner's Task JSON
  front-end: json-stream -> dml-filter -> merge, maxFilesPerTrigger 1.
- ``query_suite``: a fixed slice of the registered queries over
  generated tables, one client, seed-shuffled order, noop sink.

The program runs in a worker process (``worker.py``); this process
samples the worker's process tree from outside for peak memory and CPU
time. ``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also writes
a Spark event log, traces every other operation and prints the
per-layer metrics, ``unattributed_s`` and ``trace.overhead`` (traced
operations' wall over untraced ones' in the same run).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it carries the run's detail (seed, cores, host probes, check results,
wall-clock throughput and latency).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, metrics, stats  # noqa: E402

WORKLOADS = ("cdc_sync", "query_suite")
#: one run must end within this many seconds, traced runs included
RUN_BUDGET_S = 170
SAMPLE_EVERY_S = 0.1
TREE_EVERY_S = 2.0

#: timed epochs per stream run, at least
MIN_EPOCHS = 6
#: untimed epochs at the head of the backlog, so the timed ones start
#: warm: after set-up, epoch walls fall by up to half over the first
#: five to eight epochs
WARMUP_EPOCHS = 5
# cdc_sync: a key space 10x an epoch, so every epoch touches every bucket
CDC_KEYS = 20_000
CDC_EPOCH_ROWS = 2_000
#: seconds a warm epoch takes on a 4-core host; sizes the backlog to
#: --seconds
CDC_EPOCH_S = 1.5
# query_suite: table scale (1.0 = 6M lineitems) and the queries run,
# from five of the registry's query modules, one a memo-table consumer
SUITE_SCALE = 0.001
SUITE_QUERIES = (
    "cdc_compact", "events_funnel", "q9_product_profit", "text_quality_ensemble",
    "dedup_incremental",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def generate(workload: str, seed: int, seconds: float, work: str) -> dict:
    """Write the workload's inputs under ``work`` and return the manifest
    the worker reads."""
    m: dict = {"root": ROOT, "work": work}
    src = os.path.join(work, "src")
    if workload == "cdc_sync":
        n = WARMUP_EPOCHS + max(MIN_EPOCHS, round(seconds / CDC_EPOCH_S))
        m["files"] = gen.cdc_stream(seed, src, CDC_KEYS, n, CDC_EPOCH_ROWS)
        m["units"] = [_count_replicated(p) for p in m["files"]]
        m["warmup"] = WARMUP_EPOCHS
    else:
        m["sf_dir"] = src
        m["rows"] = gen.tables(seed, src, SUITE_SCALE)
        m["queries"] = list(SUITE_QUERIES)
    return m


def _count_replicated(path: str) -> int:
    with open(path) as f:
        return sum(1 for line in f if f'"{gen.CDC_NOISE_TABLE}"' not in line)


def _session(sid: int) -> list[int]:
    """Live processes of session ``sid``: the worker, started as a
    session leader, and everything it starts (the JVM, the Python
    daemons), even after they are re-parented."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE_MB


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_s(pids: list[int]) -> float:
    """CPU seconds (user and system) the processes and their reaped
    children have used. Time the host steals from the virtual CPUs is
    not in it."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total * _TICK_S


def run_worker(workload: str, args, work: str, trace: int, deadline: float) -> dict:
    """Generate inputs into ``work``, run one worker process on them and
    sample its process tree's memory and CPU time from outside."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    manifest = generate(workload, args.seed, args.seconds, work)
    mpath = os.path.join(work, "manifest.json")
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    result, phase = os.path.join(work, "result.json"), os.path.join(work, "phase")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']}"
    env["PYSPARK_PYTHON"] = sys.executable
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--manifest", mpath, "--result", result, "--phase", phase,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    log_path = os.path.join(work, "worker.log")
    peak, pids, tree_at, cpu = 0.0, [], 0.0, []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            while proc.poll() is None:
                now = time.time()
                if now > deadline:
                    raise TimeoutError(f"{workload} worker exceeded the run budget")
                try:
                    with open(phase) as f:
                        ph = f.read()
                except OSError:
                    ph = "setup"
                # the process list changes rarely; walking /proc is the
                # sampler's main cost, so it is refreshed slower
                if now - tree_at > TREE_EVERY_S:
                    pids, tree_at = _session(proc.pid), now
                cpu.append((time.time(), _cpu_s(pids)))
                if ph in ("setup", "timed"):
                    peak = max(peak, _rss_mb(pids))
                time.sleep(SAMPLE_EVERY_S)
        finally:
            _stop_session(proc)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"{workload} worker failed (exit {proc.returncode}):\n{tail}")
    with open(result) as f:
        res = json.load(f)
    res["e2e"]["peak_rss_mb"] = peak
    t0, t1 = res["window"]
    res["e2e"]["cpu_per_op_s"] = (
        stats.interpolate(cpu, t1) - stats.interpolate(cpu, t0)) / len(res["op_walls_s"])
    res["detail"]["spark_graft_cpus"] = env["SPARK_GRAFT_CPUS"]
    return res


def _stop_session(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started, and wait until all have
    ended. What is still running gets SIGTERM if the worker is, and
    SIGKILL 5 s later (after a normal exit, the JVM and the Python
    daemons get those 5 s to shut down on their own)."""
    if proc.poll() is None:
        _signal(_session(proc.pid), signal.SIGTERM)
    kill_at = time.time() + 5
    while left := _session(proc.pid):
        if time.time() > kill_at + 10:
            raise RuntimeError(f"processes {left} did not end")
        if time.time() > kill_at:
            _signal(left, signal.SIGKILL)
        time.sleep(0.1)
    proc.wait()


def _signal(pids: list[int], sig: int) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    missing = [x for x in ("pipe_s_spark/__init__.py", "tests/oracle_harness.py")
               if not os.path.isfile(os.path.join(ROOT, x))]
    if missing:
        print(f"perfbench: the program is not here (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    # on SIGTERM, unwind through the finally blocks that stop the worker
    # and everything it started
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    deadline = time.time() + RUN_BUDGET_S
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, args.workload)
    try:
        res = run_worker(args.workload, args, work, args.trace, deadline)
    except (RuntimeError, TimeoutError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another workload's run is using it
            pass
    detail = {"workload": args.workload, "seed": args.seed, "nproc": nproc(),
              "trace": args.trace, **res["detail"], "e2e": res["e2e"]}
    if args.trace:
        values, units = res["layers"], metrics.PER_LAYER
    else:
        values, units = res["e2e"], metrics.END_TO_END
    printed = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": printed}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
