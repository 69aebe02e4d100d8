"""Join operators Spark lacks natively: as-of join and range join.

As-of join (the time-series staple): for each left row, the most recent
right row at-or-before its timestamp, per key. The scalable
formulation is NOT a theta join (which Spark would execute as
broadcast-nested-loop): tag both sides, union them, and run one
partition-by-key window with ``last(..., ignorenulls=True)`` — a single
hash shuffle on the key + per-partition sort, exactly the sort-merge
cost profile of a regular join, independent of time-gap sizes. Same
plan kdb/pandas use conceptually for asof.

Range join (point-in-interval): for uniform intervals, derive the
bucket id arithmetically on both sides and equi-join on it — Catalyst
gets a hash join instead of a nested loop. For non-uniform intervals,
explode each interval into the buckets it spans, equi-join on bucket,
then re-filter exactly; bucket width trades replication factor vs
candidate pruning (cf. Spark's own range-join hints in Databricks
runtime; open-source Spark has no native operator).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_value_cols: Sequence[str],
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row: latest right row with right_ts <= left_ts,
    matching on the key columns. Right value columns come back
    null when no prior right row exists (left-outer asof semantics).

    Ties (equal timestamps) resolve right-before-left, so a right row
    at exactly left_ts matches.
    """
    keys = list(on)
    lcols = left.columns
    rvals = list(right_value_cols)

    l_tag = left.select(
        *keys,
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols if c not in keys],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in rvals],
    )
    r_tag = right.select(
        *keys,
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in keys],
        *[F.col(c).alias(f"__r_{c}") for c in rvals],
    )
    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        *keys,
        "__t",
        "__side",
        *[F.col(c) for c in lcols if c not in keys],
        *[F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"{c}{suffix}") for c in rvals],
    )
    out_cols = (
        keys
        + [c for c in lcols if c not in keys]
        + [f"{c}{suffix}" for c in rvals]
    )
    return filled.filter(F.col("__side") == 1).select(*out_cols)


def range_join_uniform(
    left: DataFrame,
    point_col: str,
    width: float,
    n_buckets: int,
    bucket_col: str = "band_id",
) -> DataFrame:
    """Uniform range join reduced to arithmetic bucketing: attach the
    interval id floor(point/width) — the equi-join key replacing a
    nested-loop range predicate."""
    b = F.floor(F.col(point_col) / F.lit(width)).cast("long")
    return left.withColumn(
        bucket_col, F.when((b >= 0) & (b < n_buckets), b).otherwise(F.lit(None))
    )


def range_join_explode(
    left: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """General point-in-interval join: explode each interval into the
    bucket grid it spans, equi-join on bucket, exact re-filter.
    Interval replication = ceil(span/width); pick width ~ median span.
    """
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_width)).cast("long"),
                F.floor((F.col(hi_col) - F.lit(1e-12)) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    pt = left.withColumn("__bucket", F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long"))
    # the interval side is small by contract — broadcast it explicitly
    # (cost-based choice can pick BuildLeft on the POINT side when the
    # fact table is still under the threshold, which inverts at scale)
    return pt.join(F.broadcast(iv), on="__bucket").filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    ).drop("__bucket")
