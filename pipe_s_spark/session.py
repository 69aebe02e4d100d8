"""SparkSession construction with scale-appropriate defaults.

Settings chosen for correctness against the DuckDB oracle (UTC session
timezone, ANSI off) and for scale (AQE on, skew-join handling on,
partition sizing). On a real cluster the same builder applies; only
``master`` and memory sizing change.

The driver JVM also gets ``DRIVER_JAVA_OPTIONS`` (HotSpot flags, via
``spark.driver.defaultJavaOptions``, which Spark's launcher puts before
``spark.driver.extraJavaOptions``, so a caller's own options come last
and win). In local mode the driver JVM runs the tasks too, so these are
the whole engine's JVM options. They apply only when ``get_spark``
itself starts the JVM: a session that reuses a running JVM
(``getOrCreate`` on a live context, or a ``spark-submit`` launch) keeps
the options that JVM was started with.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

#: HotSpot options for the driver JVM. ``-XX:CICompilerCount=2`` is one
#: C1 and one C2 compiler thread, the floor under tiered compilation and
#: never above HotSpot's default (3 threads on 4 cores, more on larger
#: hosts). It defers JIT work rather than removing it: the compile queue
#: drains more slowly, so a session's first 10-20 s spend less CPU on
#: compiling and the next ones give most of it back (equal CPU per query
#: over 30 s of queries, and per epoch over a 96-epoch CDC stream). Only
#: sessions that end before the queue drains save CPU. C1 only
#: (``-XX:TieredStopAtLevel=1``) and 10x C2 thresholds cut more CPU per
#: query but slowed the bulk data path (CHANGES.md has the figures).
DRIVER_JAVA_OPTIONS = ("-XX:CICompilerCount=2",)


def local_parallelism(env: Mapping[str, str] = os.environ) -> tuple[str, int]:
    """``(local master, shuffle partitions)``: ``local[$SPARK_GRAFT_CPUS]``
    with that many partitions; unset, ``local[<cores this process may
    run on>]`` with 32 partitions, which AQE coalesces down. The
    partitions apply to any master; a non-numeric ``SPARK_GRAFT_CPUS``
    (``*``) keeps 32."""
    cpus = env.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus or len(os.sched_getaffinity(0))}]"
    return master, int(cpus) if cpus and cpus.isdigit() else 32


def get_spark(
    app_name: str = "pipe_s_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults: ``local_parallelism()`` (``local[$SPARK_GRAFT_CPUS]``,
    else the usable cores); AQE enabled so the runtime re-plans
    post-shuffle partition counts and skew joins at 100 TB scale; UTC
    timezone pinned so timestamp semantics match the ANSI/DuckDB
    oracle; ``DRIVER_JAVA_OPTIONS`` for the driver JVM, before any
    ``spark.driver.extraJavaOptions`` in ``extra_conf``. JVM options
    take effect only if this call starts the JVM.
    """
    local_master, default_partitions = local_parallelism()
    if master is None:
        master = local_master
    if shuffle_partitions is None:
        shuffle_partitions = default_partitions

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Reduce-side parallelism for DATA-PROPORTIONAL batch jobs must
        # scale with input, not sit at core count: the r12 compact-x10
        # diagnosis measured per-row cost flat only at matched per-task
        # state (2M rows/32 parts = 2.18 us/row vs 20M/256 = 2.21),
        # while 20M rows over 32 fixed partitions ran 10x the per-task
        # hash-agg state and 36-75% over linear (spill/GC). The knob is
        # spark.sql.adaptive.coalescePartitions.initialPartitionNum
        # (high initial + AQE coalesce-down) — deliberately NOT set
        # here: micro-batch/streaming-index jobs are fixed-cost
        # dominated and measured ~25% SLOWER with a 256-way initial
        # split of their small per-epoch shuffles. The bulk entry
        # points size themselves instead (r13, pipe_s_spark.sizing):
        # compact_changelog embeds a keyed repartition from the
        # input's byte estimate, and MergeApplyTarget.apply_batch
        # sizes its merge write's clustering exchange the same way —
        # no caller conf needed.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is INT64 TIMESTAMP(NANOS): Spark has no nanos
        # timestamp type, so read as long and convert in sources.readers.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", " ".join(DRIVER_JAVA_OPTIONS))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
