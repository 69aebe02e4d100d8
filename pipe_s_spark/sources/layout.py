"""Storage layout for scale: time-partitioned and bucketed writes.

At 100 TB the scan is the query: layout decides whether a filter reads
one directory or the whole table, and whether a join shuffles at all.

- ``write_time_partitioned``: hive-style ``date=YYYY-MM-DD/`` layout;
  any event-time predicate then prunes at the FILE INDEX level
  (``PartitionFilters`` in the scan node — zero IO for excluded days).
  This is the hypertable/chunking idea expressed as directory layout.
- ``write_bucketed``: ``bucketBy(key)`` table layout; two tables
  bucketed on the same key join WITHOUT a shuffle on either side (no
  Exchange in the plan) — the persistent form of co-partitioning, worth
  it for fact tables joined repeatedly on the same key.

Both are thin wrappers; the tests assert the resulting plans (pruned
partitions, absent exchanges), which is the actual contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    granularity: str = "day",
    mode: str = "overwrite",
) -> None:
    """Write parquet partitioned by the date of ``ts_col`` (hive layout,
    one directory per period)."""
    part = F.date_format(F.date_trunc(granularity, F.col(ts_col)), "yyyy-MM-dd")
    df.withColumn("p_date", part).write.mode(mode).partitionBy("p_date").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table (requires a catalog/warehouse;
    on a cluster this is the layout for repeatedly-joined fact tables)."""
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def write_sharded(
    df: DataFrame,
    path: str,
    target_file_mb: int = 256,
    sample_rows: int = 2000,
    mode: str = "overwrite",
) -> int:
    """Write parquet with file sizes near ``target_file_mb`` — the
    training-shard layout rule (too-small files drown schedulers and
    object stores in per-file overhead; too-big files cap read
    parallelism).

    File count = ceil(estimated_bytes / target). Estimation samples
    ``sample_rows`` rows, measures their Spark-serialized footprint, and
    scales by the (cheap, metadata-cached) total count — no full
    materialization. Returns the shard count used.
    """
    import math

    n = df.count()
    if n == 0:
        df.write.mode(mode).parquet(path)
        return 1
    sample = df.limit(sample_rows).toPandas()
    approx_row_bytes = max(
        1, int(sample.memory_usage(deep=True, index=False).sum() / max(1, len(sample)))
    )
    # parquet compresses; assume 3x vs in-memory pandas as a layout
    # heuristic (exactness doesn't matter, order of magnitude does)
    est_bytes = n * approx_row_bytes // 3
    shards = max(1, math.ceil(est_bytes / (target_file_mb * 1024 * 1024)))
    df.repartition(shards).write.mode(mode).parquet(path)
    return shards


def zorder_key_sql(x_expr: str, y_expr: str, bits: int = 16, dialect: str = "spark") -> str:
    """Z-order (Morton) interleave of two integer dimension expressions
    as a SQL expression string — the multi-dimensional clustering key
    behind ``OPTIMIZE ZORDER BY``-style layouts (Morton 1966; used by
    Delta/Iceberg file clustering).

    Sorting by this key gives locality in BOTH dimensions at once, so
    min/max file statistics prune selective predicates on either
    column — a single-column sort can only serve one. The expression is
    a pure bit-shift sum: narrow, whole-stage-codegen'd, no UDF.

    One formula, two renderings (Spark ``shiftleft/shiftright``
    functions, DuckDB ``<<``/``>>`` operators) so the oracle replays the
    key bit-for-bit.
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    mask = (1 << bits) - 1
    x = f"(CAST({x_expr} AS BIGINT) & {mask})"
    y = f"(CAST({y_expr} AS BIGINT) & {mask})"
    terms = []
    for i in range(bits):
        if dialect == "spark":
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
        elif dialect == "duckdb":
            terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
        else:
            raise ValueError(f"unknown dialect: {dialect!r}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    num_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by the z-order key of (x_col, y_col):
    range-partition on the key (one contiguous key range per file) and
    sort within each file, so BOTH columns' min/max footer statistics
    become tight and a predicate on either dimension prunes files.

    One range exchange (with its sampling pass) + local sort — the same
    cost as a single-column sorted write.
    """
    keyed = df.withColumn(
        "_zkey", F.expr(zorder_key_sql(x_col, y_col, bits=bits, dialect="spark"))
    )
    (
        keyed.repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )

