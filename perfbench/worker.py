"""One measured run of one workload, in its own process.

``run.py`` generates the inputs, starts this process and samples its
memory and CPU time from outside. This process drives the program through its public
entry points: it starts the session, sets up, runs the timed window,
checks the outputs and writes one JSON result file.

With ``--trace 1`` the session also writes a Spark event log, and every
other operation is traced (even stream epochs; each query in every
other pass), so one run yields both the per-layer numbers and the
tracing overhead: the traced operations' wall over the untraced ones'.

Run directly only for debugging; the arguments are the ones ``run.py``
passes (the manifest is the file it writes after generating inputs).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import metrics, oracle, stats  # noqa: E402
from perfbench import trace as tr  # noqa: E402
from perfbench.gen import CDC_SCHEMA, CDC_TABLE_REGEX  # noqa: E402

#: set-up rounds per stream run; setup_s reports their median
SETUP_ROUNDS = 2
#: untimed passes after the suite's cold pass: pass walls still fall
#: by a quarter over the first two warm passes
WARMUP_PASSES = 2
#: timed passes per query-suite run, at least
MIN_PASSES = 4


def traced_epoch(batch_id: int) -> bool:
    return batch_id % 2 == 0


class Run:
    """State shared by a workload's phases."""

    def __init__(self, args, manifest: dict) -> None:
        self.args = args
        self.m = manifest
        self.work = manifest["work"]
        self.trace = bool(args.trace)
        self.phase_path = args.phase
        self.tracer = tr.Tracer() if self.trace else None
        self.listener = None
        self.spark = None
        #: timed operations: start, end, traced, and workload fields
        self.ops: list[dict] = []

    def phase(self, name: str) -> None:
        """Tell ``run.py`` which phase this is (it samples memory during
        set-up and the timed window only)."""
        tmp = self.phase_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(name)
        os.replace(tmp, self.phase_path)

    def start_session(self) -> float:
        t0 = time.perf_counter()
        from pipe_s_spark.session import get_spark

        conf = tr.event_log_conf(os.path.join(self.work, "eventlog")) if self.trace else {}
        conf["spark.sql.warehouse.dir"] = os.path.join(self.work, "warehouse")
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.range(1).collect()
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.listener = tr.ProgressListener()
            self.spark.streams.addListener(self.listener)
        return elapsed

    def probes(self) -> dict:
        """bench.py's two host probes, each measured once; the compute
        probe after one warm-up."""
        spark = self.spark

        def timed(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        def compute():
            return spark.range(50_000_000).selectExpr("sum(id * 3 + 1) as s")

        timed(compute())
        shuffle = spark.range(8_000_000).selectExpr("id % 1000000 as k", "id as v").groupBy(
            "k").agg({"v": "sum"})
        return {"probe_sec": round(timed(compute()), 4),
                "probe_shuffle_sec": round(timed(shuffle), 4)}

    def assert_no_active_stream(self) -> None:
        active = self.spark.streams.active
        for q in active:
            q.stop()
        if active:
            raise RuntimeError("a stream was still running when the runner returned")


# ------------------------------------------------------------------ streams


def _commit_times(ckpt: str) -> dict[int, float]:
    """Batch id -> wall time its commit file was written."""
    return {int(os.path.basename(p)): os.stat(p).st_mtime_ns / 1e9
            for p in glob.glob(os.path.join(ckpt, "commits", "[0-9]*"))}


class CdcSync:
    """Set-up rounds, each a fresh pipeline that applies the snapshot
    file, then one drain of the change backlog through the runner's Task
    JSON front-end (json-stream -> dml-filter -> merge, availableNow,
    maxFilesPerTrigger 1) resuming from the last round's checkpoint; its
    epochs after the warm-up ones are timed."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.m = run.m
        self.dir = ""

    def spec(self, d: str) -> dict:
        return {
            "Input": {"Type": "json-stream", "Config": {
                "path": os.path.join(d, "in"), "schema": CDC_SCHEMA, "maxFilesPerTrigger": 1}},
            "Processors": [{"Type": "dml-filter", "Config": {
                "tableRegex": CDC_TABLE_REGEX, "ops": ["insert", "update", "delete"]}}],
            "Output": {"Type": "merge", "Config": {
                "path": os.path.join(d, "tgt"), "keyCols": ["table_name", "pk"],
                "payloadCols": ["k", "value"], "checkpoint": os.path.join(d, "ck"),
                "awaitSeconds": 150}},
        }

    def execute(self) -> dict:
        from pipe_s_spark.plans import runner

        run = self.run
        first, backlog = self.m["files"][0], self.m["files"][1:]
        rounds = []
        for i in range(SETUP_ROUNDS):
            if self.dir:
                shutil.rmtree(self.dir)
            self.dir = os.path.join(run.work, f"round{i}")
            os.makedirs(os.path.join(self.dir, "in"))
            shutil.copy2(first, os.path.join(self.dir, "in"))
            t0 = time.perf_counter()
            runner.run_pipeline(run.spark, self.spec(self.dir))
            rounds.append(time.perf_counter() - t0)
            run.assert_no_active_stream()
        run.phase("timed")
        for f in backlog:
            os.rename(f, os.path.join(self.dir, "in", os.path.basename(f)))
        runner.run_pipeline(run.spark, self.spec(self.dir))
        run.phase("check")
        run.assert_no_active_stream()
        commits = _commit_times(os.path.join(self.dir, "ck"))
        n = len(backlog)
        if sorted(commits) != list(range(n + 1)):
            raise RuntimeError(f"expected commits 0..{n}, found {sorted(commits)}")
        # the first epochs of the drain are warm-up; the window runs from
        # the last warm-up commit to the final one, and each epoch's wall
        # from the commit before it to its own, so it covers the whole
        # trigger
        w = self.m["warmup"]
        for b in range(w + 1, n + 1):
            run.ops.append({"batch": b, "start": commits[b - 1], "end": commits[b],
                            "traced": run.trace and traced_epoch(b)})
        # medians over epochs, so one epoch that host load slows moves
        # neither
        walls = [op["end"] - op["start"] for op in run.ops]
        rates = [self.m["units"][op["batch"]] / wall for op, wall in zip(run.ops, walls)]
        return {"setup_rounds_s": rounds, "window": [commits[w], commits[n]],
                "throughput_per_s": stats.median(rates),
                "op_p50_s": stats.median(walls)}

    def timed_query_id(self) -> str:
        """Id of the timed stream (kept in its checkpoint)."""
        with open(os.path.join(self.dir, "ck", "metadata")) as f:
            return json.load(f)["id"]

    def check(self) -> dict:
        """The target equals last-event-wins over every applied file,
        and re-submitting the last applied epoch is a fence no-op that
        leaves the target unchanged."""
        from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

        files = sorted(glob.glob(os.path.join(self.dir, "in", "*.json")))
        tgt_dir = os.path.join(self.dir, "tgt")
        res = oracle.check_cdc(files, tgt_dir)
        before = oracle.target_digest(tgt_dir)
        replay = self.run.spark.read.schema(CDC_SCHEMA).json(files[-1]).filter(
            f"table_name RLIKE '{CDC_TABLE_REGEX}'")
        tgt = MergeApplyTarget(tgt_dir, key_cols=("table_name", "pk"), payload_cols=("k", "value"))
        applied = tgt.apply_batch(replay, epoch_id=len(files) - 1)
        res["state_ok"] = res["ok"]
        res["fence_noop"] = (not applied) and oracle.target_digest(tgt_dir) == before
        res["ok"] = res["ok"] and res["fence_noop"]
        return res

    def outcome(self, check: dict) -> tuple[int, int]:
        """The timed epochs, all failed by a wrong final state, plus the
        fence replay."""
        n = len(self.run.ops)
        return n + 1, (0 if check["state_ok"] else n) + (0 if check["fence_noop"] else 1)


# -------------------------------------------------------------- query suite


class QuerySuite:
    """Set-up: a cold pass over the queries (filling the memo tables and
    JIT caches). Then WARMUP_PASSES untimed passes and, timed, at least
    MIN_PASSES more until the window is spent, each pass in a
    seed-shuffled order. In all of them,
    each query is constructed and run to a noop sink. The figures are
    medians over passes, so a pass that host load slows moves neither:
    the pass wall for throughput, and each query's wall for the median
    query wall (the median over queries of their medians over passes).
    The check then collects every query and compares it with its DuckDB
    oracle."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.m = run.m

    def execute(self) -> dict:
        from pipe_s_spark.functions import shared
        from pipe_s_spark.registry import all_queries

        run, spark, sf = self.run, self.run.spark, self.m["sf_dir"]
        qs = all_queries()
        names = list(self.m["queries"])
        t0 = time.perf_counter()
        for name in names:
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
        cold_s = time.perf_counter() - t0
        builds = shared.drain_build_log()
        rng = random.Random(run.args.seed)

        def one_pass(traced) -> list[dict]:
            order = names[:]
            rng.shuffle(order)
            return [self._one(qs[name], name, traced(name)) for name in order]

        for _ in range(WARMUP_PASSES):
            one_pass(lambda name: False)
        run.phase("timed")
        rank = {n: i for i, n in enumerate(sorted(names))}
        t_start, passes = time.time(), []
        while len(passes) < MIN_PASSES or time.time() - t_start < run.args.seconds:
            k = len(passes)
            ops = one_pass(lambda name: run.trace and (rank[name] + k) % 2 == 0)
            run.ops.extend(ops)
            passes.append(ops)
        run.phase("check")
        builds_timed = shared.drain_build_log()
        pass_s = [ops[-1]["end"] - ops[0]["start"] for ops in passes]
        walls: dict[str, list[float]] = {}
        for op in run.ops:
            walls.setdefault(op["query"], []).append(op["end"] - op["start"])
        query_p50 = {name: stats.median(w) for name, w in walls.items()}
        return {"setup_rounds_s": [cold_s], "passes_s": pass_s, "query_p50_s": query_p50,
                "window": [passes[0][0]["start"], passes[-1][-1]["end"]],
                "throughput_per_s": len(names) / stats.median(pass_s),
                "op_p50_s": stats.median(list(query_p50.values())),
                "memo": {"builds": len(builds), "build_s": sum(b[1] for b in builds),
                         "builds_timed": len(builds_timed)}}

    def _one(self, q, name: str, traced: bool) -> dict:
        spark, sf = self.run.spark, self.m["sf_dir"]
        t0 = time.time()
        rec = {"query": name, "start": t0, "traced": traced, "ok": True}
        try:
            df = q(spark, sf)
            rec["construct_s"] = time.time() - t0
            if traced:
                t1 = time.time()
                rec["catalyst"] = tr.catalyst_phases(df)
                rec["catalyst_wall_s"] = time.time() - t1
            rec["action_start"] = time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — a failing query is a failed op
            rec["ok"], rec["error"] = False, repr(e)[:300]
        rec["end"] = time.time()
        return rec

    def check(self) -> dict:
        sys.path.insert(0, os.path.join(self.m["root"], "tests"))
        from oracle_harness import compare, duck_con

        from pipe_s_spark.registry import all_oracles, all_queries

        qs, orc = all_queries(), all_oracles()
        sf = self.m["sf_dir"]
        con = duck_con(sf)
        mismatches = {}
        for name in self.m["queries"]:
            try:
                compare(qs[name](self.run.spark, sf), con, orc[name])
            except AssertionError as e:
                mismatches[name] = str(e)[:300]
        con.close()
        errors = {op["query"]: op["error"] for op in self.run.ops if not op["ok"]}
        return {"ok": not mismatches and not errors, "queries": len(self.m["queries"]),
                "mismatches": mismatches, "errors": errors}

    def outcome(self, check: dict) -> tuple[int, int]:
        """Timed queries, failed when they raised or their query does not
        match its oracle."""
        ops = self.run.ops
        return len(ops), sum(1 for op in ops if not op["ok"] or op["query"] in check["mismatches"])


WORKLOADS = {"cdc_sync": CdcSync, "query_suite": QuerySuite}


# ------------------------------------------------------------------ tracing


def install_wrappers(run: Run) -> None:
    """Wrap the public entry points named in the layer table, for the
    traced epochs only."""
    from pipe_s_spark.plans import runner
    from pipe_s_spark.streaming import merge_apply
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    t = run.tracer
    t.wrap(runner, "build_pipeline", "runner.build")

    # row counts in and out of a traced epoch's compaction, observed on
    # the plan the merge materializes anyway (no extra job). The slot is
    # False between epochs, None once a traced epoch starts, then holds
    # that epoch's observations.
    slot: list = [False]
    orig_compact = merge_apply.compact_changelog

    def compact(df, *a, **kw):
        if slot[0] is not None:
            return orig_compact(df, *a, **kw)
        o_in, o_out = Observation(), Observation()
        out = orig_compact(df.observe(o_in, F.count(F.lit(1)).alias("n")), *a, **kw)
        slot[0] = (o_in, o_out)
        return out.observe(o_out, F.count(F.lit(1)).alias("n"))

    t.replace(merge_apply, "compact_changelog", compact)

    def epoch_of(args, kwargs):
        return kwargs.get("epoch_id", args[2] if len(args) > 2 else None)

    def before_apply(args, kwargs):
        slot[0] = None
        return {os.path.basename(b): os.stat(b).st_ino
                for b in glob.glob(os.path.join(args[0].path, "bucket=*"))}

    def after_apply(span, before, args, kwargs, applied):
        import pyarrow.parquet as pq

        obs, slot[0] = slot[0], False
        span.attrs.update(epoch=epoch_of(args, kwargs), applied=bool(applied))
        if not applied:
            return
        touched = [b for b in glob.glob(os.path.join(args[0].path, "bucket=*"))
                   if before.get(os.path.basename(b)) != os.stat(b).st_ino]
        files = [f for b in touched for f in oracle.data_files(b)]
        span.attrs["touched_buckets"] = len(touched)
        span.attrs["rows_rewritten"] = sum(pq.read_metadata(f).num_rows for f in files)
        span.attrs["bytes_written"] = sum(os.path.getsize(f) for f in files)
        if obs:
            span.attrs["rows_in"] = obs[0].get["n"]
            span.attrs["rows_out"] = obs[1].get["n"]

    t.wrap(merge_apply.MergeApplyTarget, "apply_batch", "merge_apply.apply",
           before=before_apply, after=after_apply,
           when=lambda a, kw: traced_epoch(epoch_of(a, kw)))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


#: offsets.* metric -> StreamingQueryProgress.durationMs key
_OFFSET_KEYS = {
    "offsets.latest_offset_s": "latestOffset", "offsets.get_batch_s": "getBatch",
    "offsets.planning_s": "queryPlanning", "offsets.wal_commit_s": "walCommit",
    "offsets.commit_s": "commitOffsets", "offsets.add_batch_s": "addBatch",
}


def _task_layers(jobs_per_op: list[list]) -> dict[str, float]:
    """Per-operation means of the task totals of each op's jobs."""
    def per_op(attr):
        return _mean(sum(getattr(j, attr) for j in jobs) for jobs in jobs_per_op)

    return {
        "scheduler.jobs": _mean(len(jobs) for jobs in jobs_per_op),
        "tasks.run_s": per_op("run_s"), "tasks.cpu_s": per_op("cpu_s"),
        "tasks.gc_s": per_op("gc_s"), "shuffle.read_bytes": per_op("shuffle_read_bytes"),
        "shuffle.write_bytes": per_op("shuffle_write_bytes"),
        "tasks.spill_bytes": per_op("spill_bytes"), "scan.input_bytes": per_op("input_bytes"),
        "python.bytes_sent": per_op("python_bytes_sent"),
        "python.bytes_received": per_op("python_bytes_received"),
    }


def stream_layers(run: Run, wl: CdcSync, jobs: list, t_start: float) -> dict:
    """Per-epoch means over the traced timed epochs.

    An epoch's wall splits into the offset-log phases outside addBatch,
    the union of its Spark jobs, the merge's self time (its span minus
    the jobs inside it) and what is left (``unattributed_s``)."""
    qid = wl.timed_query_id()
    ops = [op for op in run.ops if op["traced"]]
    by_batch = {op["batch"]: [j for j in jobs if j.query_id == qid and j.batch_id == op["batch"]]
                for op in ops}
    progress = {p["batchId"]: p["durationMs"] for p in run.listener.progress
                if p["id"] == qid and p["batchId"] in by_batch}
    L: dict[str, float] = {name: _mean(progress[b].get(key, 0) / 1000.0 for b in progress)
                           for name, key in _OFFSET_KEYS.items()}
    L.update(_task_layers(list(by_batch.values())))
    spans = {s.attrs.get("epoch"): s for s in run.tracer.named("merge_apply.apply")
             if s.start >= t_start}
    job_s, gaps, selfs, rest = [], [], [], []
    for op in ops:
        b, wall = op["batch"], op["end"] - op["start"]
        ivs = [(j.start, j.end) for j in by_batch[b]]
        union = stats.union_length(ivs)
        sp = spans[b]
        own = stats.self_time((sp.start, sp.end), ivs)
        offsets = sum(v for k, v in progress.get(b, {}).items()
                      if k not in ("addBatch", "triggerExecution")) / 1000.0
        job_s.append(union)
        gaps.append(wall - union)
        selfs.append(own)
        rest.append(wall - offsets - union - own)
    L["scheduler.job_s"] = _mean(job_s)
    L["scheduler.gap_s"] = _mean(gaps)
    L["unattributed_s"] = _mean(rest)
    timed_spans = [spans[op["batch"]] for op in ops]
    L["merge_apply.apply_s"] = _mean(s.end - s.start for s in timed_spans)
    L["merge_apply.self_s"] = _mean(selfs)
    L["merge_apply.jobs"] = L["scheduler.jobs"]
    for k in ("touched_buckets", "rows_rewritten", "bytes_written"):
        L[f"merge_apply.{k}"] = _mean(s.attrs.get(k, 0) for s in timed_spans)
    rows_in = sum(s.attrs.get("rows_in", 0) for s in timed_spans)
    rows_out = sum(s.attrs.get("rows_out", 0) for s in timed_spans)
    rewritten = sum(s.attrs.get("rows_rewritten", 0) for s in timed_spans)
    L["merge_apply.write_amplification"] = rewritten / rows_in if rows_in else 0.0
    L["compaction.rows_in"] = rows_in / len(ops)
    L["compaction.rows_out"] = rows_out / len(ops)
    L["compaction.net_ratio"] = rows_out / rows_in if rows_in else 0.0
    # the sink's first action materializes the compaction: every job
    # that is neither the micro-batch's own (root) execution nor the
    # merge's file write
    L["compaction.exec_s"] = _mean(
        stats.union_length((j.start, j.end) for j in by_batch[op["batch"]]
                           if not j.writes_files and j.execution_id != j.root_execution_id)
        for op in ops)
    builds = [s.end - s.start for s in run.tracer.named("runner.build")]
    L["runner.build_s"] = stats.median(builds)
    walls = {True: [], False: []}
    for op in run.ops:
        walls[op["traced"]].append(op["end"] - op["start"])
    L["trace.overhead"] = stats.median(walls[True]) / stats.median(walls[False])
    return L


def suite_layers(run: Run, jobs: list, extra: dict) -> dict:
    """Per-query means over the traced timed queries.

    A query's wall splits into construction, the forced Catalyst phases,
    the union of its action's jobs and what is left of the action
    (``scheduler.gap_s``, the same as ``unattributed_s`` here)."""
    ops = [op for op in run.ops if op["traced"] and op["ok"]]
    jobs_per_op = [[j for j in jobs if op["action_start"] <= j.start <= op["end"]] for op in ops]
    L = _task_layers(jobs_per_op)
    L["queries.construct_s"] = _mean(op["construct_s"] for op in ops)
    for ph in ("analysis", "optimization", "planning"):
        L[f"catalyst.{ph}_s"] = _mean(op["catalyst"][ph] for op in ops)
    job_s = [stats.union_length((j.start, j.end) for j in js) for js in jobs_per_op]
    gaps = [op["end"] - op["action_start"] - u for op, u in zip(ops, job_s)]
    L["scheduler.job_s"] = _mean(job_s)
    L["scheduler.gap_s"] = _mean(gaps)
    L["unattributed_s"] = _mean(
        (op["end"] - op["start"]) - op["construct_s"] - op["catalyst_wall_s"] - u
        for op, u in zip(ops, job_s))
    memo = extra["memo"]
    L["memo.builds"] = float(memo["builds"])
    L["memo.build_s"] = memo["build_s"]
    L["memo.builds_timed"] = float(memo["builds_timed"])
    # paired per query: each query is traced in one pass and not the next
    walls: dict[str, dict[bool, list[float]]] = {}
    for op in run.ops:
        walls.setdefault(op["query"], {True: [], False: []})[op["traced"]].append(
            op["end"] - op["start"])
    ratios = [stats.median(w[True]) / stats.median(w[False])
              for w in walls.values() if w[True] and w[False]]
    L["trace.overhead"] = stats.median(ratios)
    return L


# --------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--manifest", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--phase", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(args.manifest) as f:
        manifest = json.load(f)
    run = Run(args, manifest)
    run.phase("setup")
    session_s = run.start_session()
    wl = WORKLOADS[args.workload](run)
    if run.trace:
        install_wrappers(run)
    extra = wl.execute()
    window = extra.pop("window")
    if run.trace:
        run.tracer.uninstall()
    check = wl.check()
    probes = run.probes()
    walls = [op["end"] - op["start"] for op in run.ops]
    tail_v, tail_p, n = stats.tail(walls)
    attempted, failed = wl.outcome(check)
    result = {
        "correct": bool(check["ok"]), "attempted": attempted, "failed": failed,
        "e2e": {
            "setup_s": session_s + stats.median(extra["setup_rounds_s"]),
            "throughput_per_s": extra.pop("throughput_per_s"),
            "op_p50_s": extra.pop("op_p50_s"),
        },
        "window": window, "op_walls_s": walls,
        "detail": {**extra, **probes, "check": check, "session_s": session_s,
                   "op_tail_s": tail_v, "op_tail_percentile": tail_p, "op_samples": n,
                   "op_walls_s": [round(w, 4) for w in walls]},
    }
    run.spark.stop()
    if run.trace:
        jobs = tr.read_event_log(os.path.join(run.work, "eventlog"))
        if isinstance(wl, CdcSync):
            layers = stream_layers(run, wl, jobs, window[0])
        else:
            layers = suite_layers(run, jobs, extra)
        layers["session.start_s"] = session_s
        result["layers"] = {k: float(layers.get(k, 0.0)) for k in metrics.PER_LAYER}
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
