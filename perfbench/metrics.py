"""Every metric the benchmark prints, with its unit. BENCHMARK.json at the
repository root lists the same names (perfbench/tests/test_metrics.py checks)."""

from __future__ import annotations

#: printed with --trace 0:
#: - setup_s: wall seconds of set-up: the session start plus the median
#:   of the stream's set-up rounds, or plus the suite's cold pass;
#: - cpu_per_op_s: CPU seconds the program's whole process tree (driver
#:   JVM, Python driver and Python workers) uses per timed operation (an
#:   epoch, or a query), over the timed window. CPU time leaves out what
#:   the host steals from the virtual CPUs, which on a shared host moves
#:   wall times by up to half between runs.
#: The detail line before the result also carries the wall-clock
#: figures, too unsteady on a shared host for a regression bound:
#: - throughput_per_s (changes or queries per second) and op_p50_s (the
#:   median epoch or query wall), medians over the run;
#: - op_tail_s with its percentile and sample count: at the benchmark's
#:   run length the stream times 7 epochs and the suite about 20
#:   queries, too few for a percentile above the median to have ten
#:   samples beyond it;
#: - peak_rss_mb: the Spark JVM's heap grows with its garbage
#:   collector's young-generation sizing, and same-input runs read
#:   2.3-5.0 GB, a spread no regression bound can hold.
END_TO_END = {
    "setup_s": "s",
    "cpu_per_op_s": "s",
}

#: printed with --trace 1: per-operation means over the traced timed
#: operations unless noted; 0 for a layer the workload does not reach
PER_LAYER = {
    "session.start_s": "s",
    "runner.build_s": "s",
    "offsets.latest_offset_s": "s",
    "offsets.get_batch_s": "s",
    "offsets.planning_s": "s",
    "offsets.wal_commit_s": "s",
    "offsets.commit_s": "s",
    "offsets.add_batch_s": "s",
    "merge_apply.apply_s": "s",
    "merge_apply.self_s": "s",
    "merge_apply.jobs": "count",
    "merge_apply.touched_buckets": "count",
    "merge_apply.rows_rewritten": "rows",
    "merge_apply.write_amplification": "ratio",
    "merge_apply.bytes_written": "bytes",
    "compaction.rows_in": "rows",
    "compaction.rows_out": "rows",
    "compaction.net_ratio": "ratio",
    "compaction.exec_s": "s",
    "queries.construct_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "scheduler.jobs": "count",
    "scheduler.job_s": "s",
    "scheduler.gap_s": "s",
    "tasks.run_s": "s",
    "tasks.cpu_s": "s",
    "tasks.gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "tasks.spill_bytes": "bytes",
    "scan.input_bytes": "bytes",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "memo.builds": "count",  # totals of the cold pass
    "memo.build_s": "s",
    "memo.builds_timed": "count",  # total of the timed passes; must be 0
    "unattributed_s": "s",
    "trace.overhead": "ratio",  # traced operations' median wall over untraced
}
