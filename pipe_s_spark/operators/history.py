"""Changelog history operators: SCD Type-2 dimensions and point-in-time
snapshots.

These are the two classic warehouse consumers of a CDC stream that the
reference leaves to its MySQL sink (the reference replicates state; a
warehouse keeps history). Parity anchor: the per-key net-effect /
ordering semantics are the same contract the batch sink's compaction
enforces (/root/reference/pkg/output/mysql/batchmessage.go:25-105) —
here the full history is retained instead of collapsed.

Scale notes (100 TB): both operators are a single shuffle on the
change key (one window each); no driver-side data movement. SCD2's
window is per (table, pk) — cardinality of keys bounds the partition
skew, and a hot key only serializes its own history. Snapshots prune
with ``seq <= cutoff`` BEFORE the window, so the shuffle carries only
the prefix being reconstructed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scd2_history(
    changelog: DataFrame,
    key_cols: Sequence[str] = ("table_name", "pk"),
    payload_cols: Sequence[str] = ("k", "value"),
    seq_col: str = "seq",
    ts_col: str = "ts_ms",
    op_col: str = "op",
) -> DataFrame:
    """Slowly-changing-dimension Type 2: one row per key VERSION.

    Every insert/update opens a version valid from its own event time
    until the NEXT event on the same key (of any operation — an update
    supersedes, a delete closes); the last open version per key is
    current. ``version`` numbers the surviving versions 1..n per key.

    The ``lead`` is computed over ALL ops, then deletes are dropped:
    a delete therefore closes its predecessor without emitting a row,
    and a later re-insert opens a fresh version — the standard SCD2
    treatment of CDC deletes.
    """
    keys = list(key_cols)
    w_all = Window.partitionBy(*keys).orderBy(seq_col)
    versions = (
        changelog.withColumn("valid_to", F.lead(ts_col).over(w_all))
        .filter(F.col(op_col) != "delete")
        .withColumn("version", F.row_number().over(w_all).cast("long"))
    )
    return versions.select(
        *keys,
        *payload_cols,
        F.col(ts_col).alias("valid_from"),
        "valid_to",
        "version",
        F.col("valid_to").isNull().alias("is_current"),
    )


def snapshot_asof(
    changelog: DataFrame,
    cutoff_seq,
    key_cols: Sequence[str] = ("table_name", "pk"),
    payload_cols: Sequence[str] = ("k", "value"),
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Reconstruct live table state as of ``cutoff_seq`` (inclusive).

    Point-in-time read over the changelog: per key, the latest event
    with ``seq <= cutoff`` wins (last-writer-wins, same order contract
    as the merge sink); a winning delete means the key did not exist
    at the cutoff. ``cutoff_seq`` is a one-row DataFrame with column
    ``cutoff`` (broadcast — stays a scalar at any scale) or an int.

    The cutoff filter runs BEFORE the ranking window, so only the
    historical prefix shuffles.
    """
    keys = list(key_cols)
    if isinstance(cutoff_seq, int):
        pruned = changelog.filter(F.col(seq_col) <= F.lit(cutoff_seq))
    else:
        pruned = changelog.join(F.broadcast(cutoff_seq)).filter(
            F.col(seq_col) <= F.col("cutoff")
        )
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    return (
        pruned.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col(op_col) != "delete"))
        .select(*keys, *payload_cols, F.col(seq_col).alias("as_of_seq"))
    )


