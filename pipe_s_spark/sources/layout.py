"""Storage layout for scale: z-order clustered parquet writes.

At 100 TB the scan is the query: layout decides whether a filter reads
a few files or the whole table. ``write_zorder_clustered`` clusters
files on the Morton key of two columns (``zorder_key_sql``), so the
min/max footer statistics of either column prune files; the runner's
parquet output reaches it through ``zorderBy``
(``examples/scd2_to_zorder_parquet.json``), and the ``layout_zorder``
query replays the key in DuckDB.

Plain hive partitioning and ``bucketBy`` need no wrapper: call
``DataFrameWriter.partitionBy`` or ``bucketBy(...).saveAsTable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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

