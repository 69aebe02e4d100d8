"""Distributed EXACT interpolated quantiles with bounded memory AND
bounded-skew parallelism.

Spark's built-in ``percentile()`` aggregate is exact but buffers every
value of a group in executor memory (an ObjectHashAggregate over an
OpenHashMap) — fine at bench scale, an OOM at 100 TB where one group
can hold billions of rows. This module computes the SAME interpolated
order statistic from counting passes whose per-task state is bounded:

1. ``groupBy(keys, value)`` — per-distinct-value counts (map-side
   combine collapses each task's contribution before the shuffle; the
   shuffled relation is one row per DISTINCT value, not per row);
2. each distinct value is assigned a RANGE BUCKET (monotone in the
   value, boundaries from a cheap per-key min/max), per-bucket totals
   are prefix-summed over the ≤NUM_BUCKETS rows per key, and the
   within-bucket cumulative window partitions by ``(keys, bucket)`` —
   so the sort parallelism is keys x buckets, not keys. A 3-group
   fact-table quantile would otherwise serialize each group's distinct
   values through ONE reducer (exactly the single-reducer shape
   tests/test_plan_quality.py bans for global windows);
3. the row covering each target rank is selected with a narrow filter
   and one final ``groupBy(keys)`` interpolates
   ``v_lo + frac * (v_hi - v_lo)`` — the formula both Spark
   ``percentile`` and DuckDB ``quantile_cont`` use, so results are
   bit-compatible with the in-memory builtin (asserted in
   tests/test_operators.py and by the ``percentiles_distributed``
   oracle, whose DuckDB side is the plain ``quantile_cont``).

Bucketing only affects PARTITIONING, never results: the bucket id is
monotone in the value, all rank arithmetic is integer, and the values
interpolated are untouched — the decomposition is exact by
construction. This is the quantile analog of operators.skew.salted_agg:
a scale-hardened rewrite whose output must be indistinguishable from
the naive form.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Range buckets per key group: parallelism of the within-bucket sort
#: and the cap on the per-key bucket-prefix relation (256 rows/key).
NUM_BUCKETS = 256


def dquantiles(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    qs: Sequence[float],
    aliases: Sequence[str] | None = None,
    round_to: int | None = 4,
) -> DataFrame:
    """Per-``keys`` exact interpolated quantiles of ``value_col`` at
    each q in ``qs``, one output row per key group.

    Null values are ignored (matching ``percentile()``); a group with
    only nulls is dropped from the output (the builtin would emit a
    null-estimate row — filter upstream if that distinction matters).
    ``aliases`` names the output columns (default ``p{int(q*100)}``);
    ``round_to`` applies ``ROUND(est, round_to)`` so cross-engine
    comparisons are stable.
    """
    keys = list(keys)
    if aliases is None:
        aliases = [f"p{int(q * 100)}" for q in qs]
    if len(aliases) != len(qs):
        raise ValueError("aliases must match qs")

    src = df.filter(F.col(value_col).isNotNull()).select(*keys, value_col)

    # Monotone range bucket per key: floor((v - min) * B / (max - min)),
    # clamped to [0, B-1]. min/max come from a cheap min/max aggregate
    # of the RAW input (map-side combine; one tiny row per key — no
    # distinct-value shuffle on this path); the bucket id exists only
    # to partition the sort — results cannot depend on it because it
    # is monotone in the value.
    v = F.col(value_col).cast("double")
    raw_src = src  # pre-join relation: gates the fan_out (see sizing.fan_out size_of)
    bounds = src.groupBy(*keys).agg(F.min(v).alias("_vmin"), F.max(v).alias("_vmax"))
    src = src.join(F.broadcast(bounds), keys)
    span = F.col("_vmax") - F.col("_vmin")
    raw = F.when(span > 0, F.floor((v - F.col("_vmin")) / span * NUM_BUCKETS)).otherwise(
        F.lit(0)
    )
    src = src.withColumn(
        "_bkt", F.least(F.greatest(raw, F.lit(0)), F.lit(NUM_BUCKETS - 1)).cast("int")
    ).drop("_vmin", "_vmax")

    # The distinct-value relation — the ONLY large shuffle in the
    # whole computation (one row per distinct (keys, value); map-side
    # combine collapses duplicates before the wire). r15: fan_out
    # keyed on the grouping columns — on a low-parallelism scan
    # (single-row-group file) the explicit hash exchange both moves
    # the expensive distinct-count hash aggregate OFF the one scan
    # task and IS the distribution the groupBy needs (one exchange,
    # 32-way aggregate; measured 0.65 s -> 0.44 s on the sf0.1
    # lineitem distinct relation); at cluster scale it is a no-op by
    # construction (see sizing.fan_out). r15 rev 2: the fan_out key is
    # the strict SUBSET (keys, _bkt) of the grouping columns, so ONE
    # explicit exchange satisfies the clustering required by the
    # distinct aggregate AND the within-bucket window AND the
    # per-bucket totals (three operators, one exchange) and — unlike
    # the full-grouping-key form, which Catalyst collapses into an
    # AQE-coalescible ENSURE_REQUIREMENTS exchange — survives as a
    # REPARTITION_BY_NUM shuffle that keeps the CPU-dense downstream
    # stages at session parallelism (profiled: AQE's byte-based
    # coalescing squeezed the 4 s-CPU window stage onto 6 tasks).
    from pipe_s_spark.sizing import fan_out

    src = fan_out(src, by=[*keys, "_bkt"], size_of=raw_src)
    vc = src.groupBy(*keys, "_bkt", value_col).agg(F.count(F.lit(1)).alias("_c"))
    # r16 rev 2: vc feeds TWO branches (the per-bucket totals `bt` and
    # the within-bucket window), duplicating the scan+bounds+bucket+
    # distinct subtree in the logical plan; a scale-gated eager
    # localCheckpoint was tried here to collapse it (r16 session 1) and
    # REMOVED after a full-timing interleaved A/B (construction +
    # action, the bench's exact methodology): the checkpoint
    # materialization job + the post-checkpoint re-exchanges cost MORE
    # per invocation than the duplicated planning they save
    # (pin/no-pin medians at sf0.1/32c: stats_median_profile 2.35/2.17,
    # percentiles 1.86/1.54, winsorized-shape 1.25/1.07; probes
    # 0.13-0.19). At runtime ReusedExchange already deduplicates the
    # physical subtree — the exchange below the distinct aggregate is
    # identical in both branches — so the duplication costs planning
    # time only, and the checkpoint ALSO lost the REPARTITION_BY_NUM
    # partitioning, forcing both consumers to re-exchange a relation
    # the fan_out had already distributed.

    # Per-bucket totals -> per-key prefix over <= NUM_BUCKETS rows:
    # _base = ranks preceding the bucket, _n = group total. r15 rev 2:
    # derived from vc (sum of per-value counts — exact integers,
    # identical by construction) instead of a THIRD pass over the raw
    # rows: the raw form re-derived the whole src subtree (scan +
    # bounds aggregate + broadcast join) per consumer, doubling both
    # the physical plan Catalyst must optimize (~1.5 s of driver time
    # per call profiled at sf0.1) and the scan work; vc's exchange is
    # runtime-reused across its two consumers.
    bt = vc.groupBy(*keys, "_bkt").agg(F.sum("_c").alias("_bc"))
    w_bkt = Window.partitionBy(*keys).orderBy("_bkt")
    w_key = Window.partitionBy(*keys)
    bt = bt.withColumn("_base", F.sum("_bc").over(w_bkt) - F.col("_bc")).withColumn(
        "_n", F.sum("_bc").over(w_key)
    )

    # Within-bucket cumulative counts: the ordered window partitions by
    # (keys, bucket) — parallel across buckets, spillable within one.
    w_in = Window.partitionBy(*keys, "_bkt").orderBy(value_col)
    vc = (
        vc.withColumn("_cumb", F.sum("_c").over(w_in))
        .join(F.broadcast(bt.select(*keys, "_bkt", "_base", "_n")), [*keys, "_bkt"])
        .withColumn("_cum", F.col("_base") + F.col("_cumb"))
    )

    # Row r covers the 0-based sorted ranks [_cum - _c, _cum - 1]; the
    # target position for q is pos = q * (n - 1), bracketed by ranks
    # floor(pos) and ceil(pos). Exactly one row covers each rank, so a
    # conditional max per (q, side) pulls v_lo / v_hi through one
    # final groupBy without materializing ranks row-by-row.
    aggs: list[Column] = []
    for q, name in zip(qs, aliases):
        pos = F.lit(float(q)) * (F.col("_n") - 1).cast("double")
        lo = F.floor(pos).cast("long")
        hi = F.ceil(pos).cast("long")
        covers_lo = (F.col("_cum") - F.col("_c") <= lo) & (lo < F.col("_cum"))
        covers_hi = (F.col("_cum") - F.col("_c") <= hi) & (hi < F.col("_cum"))
        v_lo = F.max(F.when(covers_lo, v))
        v_hi = F.max(F.when(covers_hi, v))
        frac = F.max(F.when(covers_lo, pos - lo.cast("double")))
        est = v_lo + frac * (v_hi - v_lo)
        if round_to is not None:
            est = F.round(est, round_to)
        aggs.append(est.alias(name))
    return vc.groupBy(*keys).agg(*aggs)
