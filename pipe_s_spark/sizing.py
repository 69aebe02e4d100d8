"""Data-proportional shuffle sizing for bulk batch operators.

The problem (r12 VERDICT #3, diagnosed by the stream-scaling harness):
reduce-side parallelism defaults to ``spark.sql.shuffle.partitions``
(core count in this repo's sessions), which is a HARD CEILING on
reducers no matter how large the input — a 20M-row changelog compact
over 32 fixed reducers ran 10x the per-task hash-agg state of the 2M
run and measured 36-75% over linear (spill/GC); at 100 TB that is the
difference between a one-pass shuffle and a spill storm. The fix was
proven as a bench-tool conf (``initialPartitionNum=256``, alpha 1.12
-> 0.88) but lived outside the library, so a production caller of the
bulk paths inherited core-count reducers unless they knew the knob.

This module moves the sizing INTO the library: estimate the input's
bytes from Catalyst plan statistics (free — no job) and derive the
reducer count a bulk shuffle should start from; AQE coalesces down
when the estimate overshoots. Two delivery mechanisms, used where each
fits:

- ``bulk_partitions(df)`` + plan-embedded ``repartition(n, keys)``
  for LAZY operators (operators.compaction.compact_changelog): the
  sizing travels inside the returned plan, needs no session-conf
  mutation, and is therefore safe under concurrent queries. The keyed
  repartition satisfies the aggregation's required distribution, so
  Spark plans ONE exchange with the aggregate running at ``n``
  partitions (verified: `Exchange hashpartitioning(..., n),
  REPARTITION_BY_NUM` directly under the agg).
- ``bulk_partitions(size_of)`` as the width of an explicit exchange
  at ACTION sites (streaming.merge_apply's bucket-clustered staged
  write): the merge's only shuffle is that exchange, so sizing it
  sizes the whole write with no session-conf mutation either.

Small inputs are exempt by construction: sizing only engages when the
derived count EXCEEDS the session's shuffle partitions, so streaming
micro-batches and the oracle-scale queries keep their existing plans
(and the per-epoch fixed-cost profile — index epochs measured ~25%
slower under a blanket 256-way initial split, which is why this is
per-operator, not in session.get_spark).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: bytes of (estimated, uncompressed) input per reduce task for bulk
#: shuffles — the grain the r12 controlled experiment measured linear
#: (per-row cost flat at 2.18-2.21 us/row when per-task state matched).
BULK_TARGET_PARTITION_BYTES = 64 * 1024 * 1024

#: runaway guard: plan-statistics products (joins) can overestimate by
#: orders of magnitude; no bulk shuffle starts wider than this (AQE
#: would coalesce, but the scheduler still pays per-partition cost).
BULK_MAX_PARTITIONS = 4096

#: fan_out absolute split ceiling: a scan estimated to split into more
#: tasks than this has real parallelism of its own, so injecting a
#: raw-row exchange ahead of it can only cost (r16 advice — the
#: relative par/2 bound alone would still fan multi-GB inputs on a
#: many-hundred-core session).
FAN_OUT_MAX_SPLITS = 8


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's ANALYZED-plan size estimate in bytes, or None when
    unavailable/unknown. No job runs: leaf relations report file sizes
    (x compression factor), localCheckpoint/cached relations report
    materialized size, and operators propagate estimates. The analyzed
    plan, NOT optimizedPlan(): asking for the optimized plan runs the
    whole optimizer eagerly at DataFrame-construction time (~350 ms on
    a fresh cdc-changelog plan — the r13 bench triage caught exactly
    that as a reproduced regression on every compact-calling query),
    while analyzed().stats() is ~1 ms and returns the same
    size-in-bytes-only estimate when CBO is off (pre-pruning, so it
    can only overshoot — more initial reducers, which AQE coalesces)."""
    try:
        raw = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
        n = int(str(raw))
    except Exception:  # noqa: BLE001 — sizing is best-effort, never fatal
        return None
    # Catalyst signals "unknown" with defaultSizeInBytes (Long.Max) and
    # join products can saturate; treat anything implausible as unknown
    if n <= 0 or n >= (1 << 62):
        return None
    return n


def bulk_partitions(df: DataFrame, target_bytes: int | None = None) -> int | None:
    """Reduce-task count a bulk shuffle over ``df`` should start from
    (ceil(bytes / target), capped), or None when the size estimate is
    unavailable — callers fall back to session defaults."""
    nbytes = plan_size_bytes(df)
    if nbytes is None:
        return None
    t = target_bytes or BULK_TARGET_PARTITION_BYTES
    return max(1, min(BULK_MAX_PARTITIONS, math.ceil(nbytes / t)))


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    """Spark byte-size conf as int bytes ('134217728', '128m', '1g',
    '128MB' all accepted); ``default`` on anything unparsable."""
    try:
        raw = str(spark.conf.get(key)).strip().lower().removesuffix("b")
        if raw and raw[-1] in _BYTE_SUFFIX:
            return int(float(raw[:-1]) * _BYTE_SUFFIX[raw[-1]])
        return int(raw)
    except Exception:  # noqa: BLE001
        return default


def fan_out(
    df: DataFrame,
    *,
    by: list[str] | None = None,
    max_parts: int | None = None,
    size_of: DataFrame | None = None,
) -> DataFrame:
    """Scale-adaptive MAP-side parallelism for compute-heavy narrow
    stages over low-parallelism scans (r15; guide §2.5's "one huge
    unsplittable file -> repartition immediately after the read").

    The problem is the mirror image of ``bulk_partitions``: scan
    parallelism is bounded by the input's split count, and a parquet
    file is splittable only at ROW-GROUP granularity — a table written
    as one file with one row group (exactly the bench testdata layout)
    is decoded, and everything Spark pipelines into the scan stage
    (projection math, decimal casts, partial aggregation, Arrow
    kernels) is executed, by ONE task regardless of cores. Profiled at
    sf0.1: the stats/quantile family's heavy partial aggregates and
    the text family's shingle kernels all ran as 1-3-task stages with
    31 cores idle.

    Fix per the guide: repartition right after the read, but ONLY when
    the input is provably too small for the scan itself to parallelize
    — the estimated scan split count (plan bytes /
    ``spark.sql.files.maxPartitionBytes``) both well below session
    parallelism and below a small absolute ceiling
    (``FAN_OUT_MAX_SPLITS``). At cluster scale any real table clears
    that bar and this is a NO-OP by construction (no exchange is added
    to a 100 TB plan: its scan already parallelizes), so the helper
    cannot pay a data-sized shuffle where the scan is wide.

    ``by``: hash-partition on these columns instead of round-robin.
    Preferred when a downstream groupBy/window uses the same leading
    keys — the exchange then SATISFIES that operator's required
    distribution and replaces, not precedes, the aggregation shuffle —
    and it avoids round-robin's sort-before-repartition pass. Callers
    must not depend on intra-partition order; every consumer here is
    order-independent (exact-decimal / integer aggregation, per-row
    kernels).

    ``max_parts``: cap the fan-out width below session parallelism.
    For ``mapInPandas``/``mapInArrow`` call sites each task pays a
    fixed Python dispatch cost on top of its data, so tiny inputs are
    FASTER at fewer, larger partitions (interleaved A/B on the
    signature kernel at sf0.1: widths 4-16 equivalent, width 32 ~25%
    slower); kernel call sites pass ``kernel_parts()``. Irrelevant at
    cluster scale, where the gate makes this function a no-op.

    ``size_of``: the relation whose plan statistics gate the fan-out,
    when ``df`` itself carries an inflated estimate. Catalyst join
    estimates MULTIPLY child sizes, so a small table that has passed
    through a broadcast join (dquantiles' bounds attach) reports
    gigabytes and silently disabled the fan-out (found by plan
    inspection: the quantile-family plans carried no REPARTITION
    node); gate on the raw pre-join input instead — the join cannot
    grow a broadcast-attached row count.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if max_parts is not None:
        par = max(1, min(par, max_parts))
    if not _scan_starved(df, par, size_of=size_of):
        return df
    if by:
        return df.repartition(par, *[F.col(c) for c in by])
    return df.repartition(par)


def _scan_starved(df: DataFrame, par: int, size_of: DataFrame | None = None) -> bool:
    """True when the (proxied) input's estimated SCAN SPLIT COUNT says
    the scan cannot parallelize on its own. r16 (advice): gate on
    splits, not total bytes — the r15 gate (nbytes >= par * mpb ->
    no-op) approved a full raw-row exchange for any input up to
    parallelism x maxPartitionBytes; at mid scale (multi-GB input, many
    cores) a multi-row-group file of N bytes already yields ~N/mpb scan
    splits, and fanning it injects a data-sized shuffle ahead of
    map-side-combining aggregates (the exact regression the reverted
    A/B sites documented at small scale). Fire only when the scan is
    genuinely starved: estimated splits both well below session
    parallelism AND below a small absolute count. Best-effort in the
    conservative direction: plan stats UNDER-estimate splits for
    few-row-group files, so a starved single-row-group multi-split
    estimate can only make this gate refuse a fan-out, never add one
    to a wide scan."""
    spark = df.sparkSession
    nbytes = plan_size_bytes(size_of if size_of is not None else df)
    if nbytes is None:
        return False
    mpb = _parse_bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    splits = math.ceil(nbytes / mpb)
    return splits < max(2, par // 2) and splits <= FAN_OUT_MAX_SPLITS


def kernel_parts(spark: SparkSession) -> int:
    """Fan-out width for Python-kernel (mapInPandas/mapInArrow) call
    sites: HALF the session parallelism, floor 4. Each kernel task
    pays a fixed JVM<->Python dispatch cost, so on the gated
    small-input path fewer, larger Arrow batches win (measured:
    width 16 ~25% faster than 32 on the signature kernel at sf0.1);
    derived from core count, so it scales with the session rather
    than encoding this host."""
    return max(4, spark.sparkContext.defaultParallelism // 2)


def session_shuffle_partitions(spark: SparkSession) -> int:
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001
        return 200  # Spark's own default
