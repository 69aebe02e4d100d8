"""Changelog compaction + merge-apply — the reference's batch-sink core.

Parity: ``BatchMessage.add`` / ``mergeEvents`` (/root/reference/pkg/
output/mysql/batch/batchmessage.go:25-105) collapse the event sequence
per primary key within a flush window to its net effect, and
``TableProcessor.flush`` (batch/tableprocessor.go:198-290) applies the
net inserts/updates/deletes. Net-effect rules (batchmessage.go):

- ``inDB`` tracking: the key was absent before the window iff its
  FIRST event in the window is an insert.
- final payload = the LAST event's row (updates merge forward; a
  trailing delete's payload is irrelevant).
- net op:
    first=insert  & last=delete  -> annihilate (emit nothing;
                                    tableprocessor.go:273-290)
    first=insert  & last!=delete -> insert
    first!=insert & last=delete  -> delete
    first!=insert & last!=delete -> update   (includes the
        delete-then-insert -> update conversion, batchmessage.go:60-81)

One deliberate deviation: update-after-delete is a hard error in the
reference (batchmessage.go:49-52); here it resolves to update (the row
is assumed live in the target), which is strictly more tolerant and
keeps the operator total.

The rule is defined once (``net_effect_aggs`` + ``net_op``). It runs
here, behind one hash-shuffle on the key, and inside the streaming
merge's one per-key aggregate (``streaming.merge_apply``), where the
merge's bucket clustering is the only shuffle. Partial aggregation
(min_by/max_by) combines map-side, so skewed keys cost O(distinct keys)
post-shuffle, not O(events). Reduce-side parallelism is
DATA-PROPORTIONAL (pipe_s_spark.sizing): inputs whose estimated bytes
exceed the session's shuffle-partition count x 64 MB embed a keyed
repartition so the aggregate runs at ceil(bytes/64MB) reducers instead
of the core-count ceiling — the r12 scaling harness measured the fixed
ceiling 36-75% over linear at 10x data (per-task hash-agg spill), flat
when per-task state was held constant.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipe_s_spark.sizing import bulk_partitions, session_shuffle_partitions


def compact_changelog(
    df: DataFrame,
    key_cols: Sequence[str] = ("db", "table_name", "pk"),
    seq_col: str = "seq",
    op_col: str = "op",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Collapse a changelog to net effect per key.

    Returns one row per surviving key with ``net_op`` in
    insert|update|delete, the final payload columns, and ``last_seq``
    (the high-watermark offset for resumability). Annihilated keys
    (insert..delete within the window) are dropped.

    Reduce parallelism is sized from the input's estimated bytes when
    that exceeds the session ceiling: a ``repartition(n, keys)``
    embedded IN THE PLAN (no session-conf mutation) satisfies the
    aggregate's distribution, so Spark still plans ONE exchange, now
    ``n``-wide. Micro-batches and oracle-scale queries never trigger it.
    Tradeoff: that exchange moves raw rows, not map-side-combined ones,
    but bounded per-task reducer state is what survives a 100x scale-up
    (spill grows superlinearly; shuffle bytes grow linearly and never
    exceed the raw input).
    """
    keys = list(key_cols)
    if payload_cols is None:
        payload_cols = [c for c in df.columns if c not in keys and c not in (seq_col, op_col)]
    n = bulk_partitions(df)
    if n is not None and n > session_shuffle_partitions(df.sparkSession):
        df = df.repartition(n, *[F.col(k) for k in keys])

    g = df.groupBy(*keys).agg(*net_effect_aggs(F.col(op_col), F.col(seq_col), payload_cols))
    return (
        g.withColumn("net_op", net_op())
        .filter(F.col("net_op").isNotNull())
        .select(*keys, "net_op", "last_seq", *payload_cols)
    )


def net_effect_aggs(op: Column, seq: Column, payload_cols: Sequence[str]) -> list[Column]:
    """Per-key aggregates of the net-effect rule: ``__first_ins``,
    ``__last_del``, ``last_seq`` and each payload column at the last
    seq. Rows whose ``seq`` is NULL are ignored, so a caller can mix in
    rows that are not events.

    The rule only ever asks two questions of the op column: "was the
    FIRST event an insert?" and "was the LAST event a delete?".
    Aggregating the op STRING to answer them (min_by/max_by(op, seq))
    puts a string in the aggregation buffer, and one non-mutable buffer
    type forces the WHOLE aggregate down to SortAggregate, two extra
    full sorts of the changelog. Aggregating the BOOLEAN answers keeps
    every buffer a fixed-size primitive, so the aggregate plans as
    HashAggregate (string payload columns, if a caller carries any,
    still fall back to SortAggregate)."""
    return [
        F.min_by(op == "insert", seq).alias("__first_ins"),
        F.max_by(op == "delete", seq).alias("__last_del"),
        F.max(seq).alias("last_seq"),
        *[F.max_by(F.col(c), seq).alias(c) for c in payload_cols],
    ]


def net_op() -> Column:
    """insert|update|delete over ``net_effect_aggs``' columns, NULL for
    an annihilated key (first event insert, last event delete)."""
    first_ins, last_del = F.col("__first_ins"), F.col("__last_del")
    return (
        F.when(first_ins & last_del, F.lit(None).cast("string"))
        .when(first_ins, F.lit("insert"))
        .when(last_del, F.lit("delete"))
        .otherwise(F.lit("update"))
    )


def merge_apply(
    base: DataFrame,
    compacted: DataFrame,
    key_cols: Sequence[str] = ("table_name", "pk"),
    payload_cols: Sequence[str] | None = None,
    net_op_col: str = "net_op",
) -> DataFrame:
    """Apply a compacted changelog to a base snapshot (pure batch form).

    Equivalent of the reference's multi-row INSERT/UPDATE/DELETE flush
    (tableprocessor.go:198-271) and of ``MERGE WHEN MATCHED/NOT
    MATCHED/DELETE``: untouched base rows survive, upserts replace,
    deletes remove. Insert-conflict -> update fallback
    (tableprocessor.go:157-176) is inherent: an insert for an existing
    key still replaces the row.

    Scale: left_anti + union is one shuffle on the key for the anti
    join; the upsert side arrives already partitioned by the same key
    from compaction, so AQE reuses the exchange.
    """
    keys = list(key_cols)
    if payload_cols is None:
        payload_cols = [c for c in base.columns if c not in keys]
    untouched = base.join(compacted.select(*keys), on=keys, how="left_anti")
    upserts = compacted.filter(F.col(net_op_col) != "delete").select(*keys, *payload_cols)
    return untouched.select(*keys, *payload_cols).unionByName(upserts)


def validate_changelog(
    df: DataFrame,
    key_cols: Sequence[str] = ("db", "table_name", "pk"),
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Flag per-key op sequences that violate the CDC state machine —
    the check the reference enforces by erroring (update-after-delete,
    batchmessage.go:49-52; insert-on-present / update-on-absent are the
    implicit inDB contract, batchmessage.go:25-57). ``compact_changelog``
    resolves these tolerantly; this operator surfaces them instead, as
    a data-quality report (one row per violating transition).

    One window over the key (same shuffle the compaction needs):
    violation iff op follows an incompatible predecessor state.
    """
    from pyspark.sql.window import Window

    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(seq_col)
    prev = F.lag(op_col).over(w)
    violation = (
        F.when((prev == "delete") & (F.col(op_col) == "update"), "update_after_delete")
        .when((prev == "delete") & (F.col(op_col) == "delete"), "double_delete")
        .when(prev.isNull() & (F.col(op_col) != "insert"), "first_op_not_insert")
        .when((prev != "delete") & prev.isNotNull() & (F.col(op_col) == "insert"), "insert_on_present")
    )
    return (
        df.withColumn("violation", violation)
        .filter(F.col("violation").isNotNull())
        .select(*keys, seq_col, op_col, "violation")
    )
