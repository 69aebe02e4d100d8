"""Delta-append CDC target: O(batch) steady-state writes, LWW reads,
periodic fold into a bucketed base — the LSM-shaped counterpart of
``MergeApplyTarget``.

Why it exists: the bucketed merge target rewrites every TOUCHED bucket
per epoch, which is the right shape for bulk applies but degenerates
for steady-state CDC micro-batches — uniformly-hashed keys touch every
bucket, so a 1% update epoch rewrites ~the whole table (the known
bucket-grain limit documented on MergeApplyTarget; the reference's
MySQL sink pays none of this because InnoDB updates rows in place,
`/root/reference/pkg/output/mysql/batch/tableprocessor.go:198-271`).
The standard storage answer is a log-structured split, which is also
exactly what Delta/Iceberg/Hudi MOR tables do:

- ``apply_batch`` appends each micro-batch's NET EFFECTS as its own
  ``batch_id=N`` partition of an epoch log (``streaming/epoch_log.py``,
  the layout under every streaming append sink) — cost O(batch), no
  read of existing state, idempotent under Structured Streaming replay
  because a replayed epoch dynamic-overwrites its own partition with
  identical content;
- reads resolve last-writer-wins per key by ``(last_seq, batch_id)``
  with tombstones (``net_op = delete``) — order-independent, so late
  or out-of-order epochs can never clobber newer state;
- ``fold_into`` periodically compacts all unfolded deltas into a
  ``MergeApplyTarget`` base (ONE bulk apply — the shape the bucketed
  target is good at), advances a ``._folded_through`` watermark, and
  truncates the folded partitions in one journaled commit. The
  watermark, not the truncation, is the correctness boundary: a
  zombie/replayed append of an already-folded epoch recreates a
  partition every reader ignores.

Read amplification is the price (a full view unions base + unfolded
deltas through one LWW shuffle), bounded by fold frequency — the same
dial every merge-on-read table format exposes.

Single-writer-per-target contract and driver-local metadata files
match the rest of the sink family: the watermark is a bare JSON integer
read through ``commit.read_json`` (missing = nothing folded yet) and
written by ``commit.write_atomic``, like the merge target's fence.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipe_s_spark.operators.compaction import compact_changelog
from pipe_s_spark.streaming import commit, epoch_log
from pipe_s_spark.streaming.merge_apply import (
    FLAT_CHANGELOG_SCHEMA,
    MergeApplyTarget,
    typed_empty_frame,
)


class DeltaAppendTarget:
    """Append-only changelog target with LWW resolution and fold-based
    compaction. See module docstring for the design; the public
    surface mirrors ``MergeApplyTarget`` where semantics overlap."""

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str] = ("table_name", "pk"),
        payload_cols: Sequence[str] = ("k", "value"),
        seq_col: str = "seq",
        op_col: str = "op",
    ):
        self.path = path
        self.key_cols = list(key_cols)
        self.payload_cols = list(payload_cols)
        self.seq_col = seq_col
        self.op_col = op_col
        #: column types for the empty-target read, seeded from the
        #: canonical changelog schema and widened from every applied
        #: batch (same pattern as MergeApplyTarget._col_types)
        self._col_types = {f.name: f.dataType for f in FLAT_CHANGELOG_SCHEMA.fields}

    # -- metadata ------------------------------------------------------
    def _watermark_path(self) -> str:
        return os.path.join(self.path, "._folded_through")

    def folded_through(self) -> int:
        """Highest batch_id already folded into a base (-1 = none).
        Every reader ignores delta partitions at or below this — THE
        barrier that makes truncation pure space reclamation and a
        replayed pre-fold epoch harmless."""
        return commit.read_json(self._watermark_path(), -1)

    # -- write path ----------------------------------------------------
    def apply_batch(self, batch: DataFrame, epoch_id: int) -> bool:
        """Append one micro-batch's net effects as ``batch_id=epoch_id``.
        O(batch): no read of existing state, one keyed shuffle for the
        compaction (skipped when the caller pre-compacted — same
        contract as MergeApplyTarget). Replay rewrites the same
        partition with identical content; an epoch at or below the
        fold watermark is skipped (False) — its effects already live
        in the base."""
        if epoch_id <= self.folded_through():
            return False
        for f in batch.schema.fields:
            self._col_types[f.name] = f.dataType
        if "net_op" in batch.columns and self.op_col not in batch.columns:
            compacted = batch
        else:
            compacted = compact_changelog(
                batch,
                key_cols=self.key_cols,
                seq_col=self.seq_col,
                op_col=self.op_col,
                payload_cols=self.payload_cols,
            )
        epoch_log.append(
            self.path,
            compacted.select(*self.key_cols, *self.payload_cols, "net_op", "last_seq"),
            epoch_id,
        )
        return True

    # -- read path -----------------------------------------------------
    def _delta_frame(self, spark: SparkSession) -> DataFrame | None:
        """All unfolded delta rows, or None when no partition exists (the
        schema spans folded partitions too, so it keeps stored types)."""
        df = epoch_log.read(spark, self.path)
        if df is None:
            return None
        return df.filter(F.col("batch_id") > F.lit(self.folded_through()))

    def _resolve(self, union: DataFrame) -> DataFrame:
        """Last-writer-wins per key over (last_seq, batch_id) — ties go
        to the later batch, so an exact replay resolves identically.
        One shuffle on the key."""
        from pyspark.sql.window import Window

        w = Window.partitionBy(*self.key_cols).orderBy(
            F.desc("last_seq"), F.desc("batch_id")
        )
        return (
            union.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def read_current(self, spark: SparkSession) -> DataFrame:
        """LWW view of the UNFOLDED deltas alone (keys + payloads,
        tombstones hidden). Complete only while nothing has been
        folded; after a fold, use ``read_merged`` with the base."""
        deltas = self._delta_frame(spark)
        if deltas is None:
            return typed_empty_frame(spark, self.key_cols + self.payload_cols, self._col_types)
        return (
            self._resolve(deltas)
            .filter(F.col("net_op") != "delete")
            .select(*self.key_cols, *self.payload_cols)
        )

    def read_merged(self, spark: SparkSession, base: MergeApplyTarget) -> DataFrame:
        """Full merge-on-read view: the bucketed base overlaid with the
        unfolded deltas, one LWW shuffle. Base rows rank below every
        delta (seq/batch -1 sentinels: a delta for a key exists only if
        it arrived AFTER the last fold that produced the base row)."""
        cur = (
            base.read_current(spark)
            .select(*self.key_cols, *self.payload_cols)
            .withColumn("net_op", F.lit("update"))
            .withColumn("last_seq", F.lit(-1).cast("long"))
            .withColumn("batch_id", F.lit(-1).cast("long"))
        )
        deltas = self._delta_frame(spark)
        if deltas is None:
            return cur.select(*self.key_cols, *self.payload_cols)
        union = cur.unionByName(
            deltas.select(
                *self.key_cols, *self.payload_cols, "net_op", "last_seq", "batch_id"
            )
        )
        return (
            self._resolve(union)
            .filter(F.col("net_op") != "delete")
            .select(*self.key_cols, *self.payload_cols)
        )

    # -- compaction ----------------------------------------------------
    def fold_into(
        self, base: MergeApplyTarget, epoch_id: int, truncate: bool = True
    ) -> bool:
        """Compact every unfolded delta into ``base`` as ONE bulk apply
        (the shape the bucketed target is good at), then advance the
        watermark and (optionally) truncate the folded partitions.

        Crash-safe by ordering: the base's journaled commit applies
        the fold atomically; the watermark is written only after that
        commit, so a crash in between re-folds the same resolved net
        state on restart — idempotent effects (same upserts, same
        deletes). Truncation runs last, as one journaled commit, and is
        pure space reclamation (readers already ignore folded ids).
        ``epoch_id`` is the BASE's epoch number and must exceed its
        fence, as with any apply."""
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        deltas = self._delta_frame(spark)
        if deltas is None:
            return False
        hi = deltas.agg(F.max("batch_id").alias("m")).collect()[0]["m"]
        if hi is None:
            return False
        resolved = self._resolve(deltas).select(
            *self.key_cols, "net_op", "last_seq", *self.payload_cols
        )
        if not base.apply_batch(resolved, epoch_id):
            return False
        commit.fault("fold-committed")
        commit.write_atomic(self._watermark_path(), str(int(hi)))
        if truncate:
            epoch_log.truncate(self.path, hi)
        return True
