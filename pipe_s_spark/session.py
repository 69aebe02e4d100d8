"""SparkSession construction with scale-appropriate defaults.

Settings chosen for correctness against the DuckDB oracle (UTC session
timezone, ANSI off) and for scale (AQE on, skew-join handling on,
partition sizing). On a real cluster the same builder applies; only
``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pipe_s_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` locally; AQE enabled so the
    runtime re-plans post-shuffle partition counts and skew joins at
    100 TB scale; UTC timezone pinned so timestamp semantics match the
    ANSI/DuckDB oracle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

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
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
