"""Streaming data-quality gate with dead-letter routing: every
micro-batch is tagged by an ExpectationSuite's row-level checks, clean
rows flow to the main sink, violating rows land in a QUARANTINE sink
carrying the list of failed checks, and a per-batch metrics ledger
records violation counts per check — the Delta-Live-Tables
"expectations" semantics (warn / drop / quarantine) on plain
Structured Streaming.

Reference parity: the streaming sibling of
`pkg/output/mysql/checkoutput.go:293-445` — where MysqlCheckOutput
verifies landed rows after the fact, the gate verifies them in-flight
and refuses to land the bad ones.

The gate is one body of the library's streaming epoch loop
(``streaming.epoch_log.run_stream``), which starts, triggers and
compacts it like every other streaming sink.

At-scale notes: the tag pass is narrow (conditional expressions plus
broadcast stream-static joins for FK checks); each batch is persisted
once so the good/bad split and the metrics rollup read one
materialization, not three recomputes; the metrics ledger appends one
row per (batch, check) — vocabulary-sized, never row-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipe_s_spark.operators.expectations import ExpectationSuite
from pipe_s_spark.streaming import epoch_log
from pipe_s_spark.streaming.epoch_log import DEFAULT_COMPACT_EVERY


def run_quarantine_gate(
    stream: DataFrame,
    suite: ExpectationSuite,
    good_path: str,
    quarantine_path: str,
    metrics_path: str,
    checkpoint: str,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    await_seconds: int | None = None,
):
    """Start (and optionally await) the gate on ``stream``.

    Clean rows (no violated checks) land in ``good_path`` without the
    tag column; violating rows go to ``quarantine_path`` with
    ``_violated`` rendered as a sorted comma-joined string (stable for
    downstream grouping); ``metrics_path`` accrues one row per
    (batch_id, check) with that batch's violation count and row total.
    All three sinks are epoch logs (streaming.epoch_log: PARTITIONED BY
    batch_id, written with dynamic partition overwrite), so a replayed
    epoch (restart after a crash between sink write and stream commit)
    rewrites its own partitions to identical content instead of duplicating rows — the
    same layout-level idempotence the dedup-index maintainer and the
    merge sink's epoch fence provide.

    ``compact_every``: every N epochs, fold committed per-batch
    partitions of all three sinks into one (the epoch loop
    ``streaming.epoch_log.run_stream`` folds them with ``dedupe=False``
    — ledger rows may legitimately repeat, and the journaled commit
    gives exactly-once folding without relying on dedup) so a
    long-running gate keeps O(1) partitions instead of O(#batches).
    DEFAULT-ON at streaming.epoch_log.DEFAULT_COMPACT_EVERY (None opts
    out).
    """
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        tagged = suite.tag(batch_df).persist()
        try:
            n_total = tagged.count()
            good = tagged.filter(F.size("_violated") == 0).drop("_violated")
            bad = tagged.filter(F.size("_violated") > 0).withColumn(
                "_violated", F.array_join(F.array_sort("_violated"), ",")
            )
            epoch_log.append(good_path, good, batch_id)
            epoch_log.append(quarantine_path, bad, batch_id)
            metrics = (
                tagged.select(F.explode("_violated").alias("check"))
                .groupBy("check")
                .agg(F.count(F.lit(1)).alias("violations"))
                .select(
                    # epoch duplicates batch_id as a DATA column: the
                    # partition column is layout (rewritten when old
                    # partitions are folded by compaction), but per-
                    # batch attribution is the metric ledger's CONTENT
                    # — it must survive a fold
                    F.lit(batch_id).cast("long").alias("epoch"),
                    "check",
                    "violations",
                    F.lit(n_total).cast("long").alias("batch_rows"),
                )
            )
            epoch_log.append(metrics_path, metrics, batch_id)
        finally:
            tagged.unpersist()

    return epoch_log.run_stream(
        stream,
        _process,
        checkpoint,
        logs=[(p, False) for p in (good_path, quarantine_path, metrics_path)],
        compact_every=compact_every,
        await_seconds=await_seconds,
    )
