"""Incremental view maintenance: a materialized aggregate over the
changelog-applied table, updated from per-epoch deltas instead of
recomputed.

The classic IVM identity for distributive aggregates: for the touched
keys of an epoch,

    agg' = agg - contribution(old rows) + contribution(new rows)

where the old rows are the target's pre-image of the epoch's keys
(bucket-pruned read) and the new rows are the compacted net effects.
Untouched keys contribute unchanged — at 100 TB the maintenance cost is
O(epoch keys), not O(table), which is the entire point of maintaining
the view incrementally (the same algebra Materialize/DBSP use for
SUM/COUNT).

The view state is O(groups) — tiny by definition — so it is one JSON
file (``state.json``), rewritten atomically per epoch and fenced
exactly like the merge target (replays and zombie writers skip). It is
read through ``commit.read_json``: a missing file is a fresh view, a
damaged one raises instead of restarting the view from nothing.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipe_s_spark.operators.compaction import compact_changelog
from pipe_s_spark.streaming import commit
from pipe_s_spark.streaming.merge_apply import MergeApplyTarget


class IncrementalAggView:
    """Maintains ``SELECT group_cols, COUNT(*) n_rows, SUM(value_col)
    sum_value`` over a :class:`MergeApplyTarget`, incrementally.

    ``apply_batch`` is foreachBatch-compatible and BOTH applies the
    epoch to the underlying target and folds its delta into the view —
    call it instead of (not in addition to) the target's own.
    """

    def __init__(
        self,
        target: MergeApplyTarget,
        path: str,
        group_cols: Sequence[str] = ("table_name",),
        value_col: str = "value",
        max_groups: int = 100_000,
    ):
        self.target = target
        self.path = path
        self.group_cols = list(group_cols)
        self.value_col = value_col
        #: Fail-fast bound on view cardinality: the state is held and
        #: collected driver-side, which is only sound because a VIEW is
        #: O(groups) by definition. High-cardinality group_cols (e.g. a
        #: per-row key) would silently become an unbounded driver
        #: collect — raise instead so the misuse is loud.
        self.max_groups = max_groups

    # -- tiny JSON state (O(groups)) -------------------------------------
    def _state_file(self) -> str:
        return os.path.join(self.path, "state.json")

    def _read_state(self) -> dict:
        return commit.read_json(self._state_file(), {"epoch": -1, "groups": {}})

    def _key(self, row) -> str:
        return json.dumps([row[c] for c in self.group_cols])

    def apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        state = self._read_state()
        if epoch_id <= state["epoch"]:
            # replay: the view already folded this epoch, but the crash
            # may have hit between the view fold and the target apply —
            # drive the target anyway (its own fence makes this a no-op
            # when it did apply)
            self.target.apply_batch(batch, epoch_id)
            return
        spark = batch.sparkSession
        compacted = compact_changelog(
            batch,
            key_cols=self.target.key_cols,
            seq_col=self.target.seq_col,
            op_col=self.target.op_col,
            payload_cols=self.target.payload_cols,
        ).cache()
        try:
            keys = compacted.select(*self.target.key_cols).distinct()
            # pre-image contributions of the epoch's keys, bucket-pruned
            # to the raw batch's buckets (a superset of the compacted
            # keys' buckets; the semi-join drops the rest)
            touched = self.target.touched_buckets(batch)
            old = self.target.read_current(spark, buckets=touched).join(
                keys, on=self.target.key_cols, how="left_semi"
            )
            gc = [F.col(c) for c in self.group_cols]
            old_g = old.groupBy(*gc).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(self.value_col).cast("decimal(18,2)")).alias("s"),
            ).collect()
            new_g = (
                compacted.filter(F.col("net_op") != "delete")
                .groupBy(*gc)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col(self.value_col).cast("decimal(18,2)")).alias("s"),
                )
                .collect()
            )
            # fold the delta FIRST, then apply the target: the deltas
            # were computed from the pre-image, so the view fold must
            # commit before the target mutates — a crash in between
            # replays into the branch above (view skips, target applies).
            # The reverse order would make a replayed epoch read the
            # post-image as "old" and lose the delta forever.
            #
            # The fold commits under the TARGET's lock with a fresh
            # epoch re-check: a zombie callback (orphaned by a killed
            # query thread) that reaches this point after a newer
            # incarnation already folded a later epoch must abort, not
            # regress state.json — the exact protocol the target's own
            # swap uses (merge_apply.MergeApplyTarget.apply_batch).
            with commit.lock(self.target.path):
                state = self._read_state()  # re-read under the lock
                if epoch_id <= state["epoch"]:
                    return  # zombie / concurrent replay lost the race
                groups = state["groups"]
                for sign, rows in ((-1, old_g), (+1, new_g)):
                    for r in rows:
                        k = self._key(r)
                        n0, s0 = groups.get(k, (0, "0"))
                        from decimal import Decimal

                        groups[k] = (
                            n0 + sign * r["n"],
                            str(Decimal(s0) + sign * (r["s"] or 0)),
                        )
                state["groups"] = {k: v for k, v in groups.items() if v[0] != 0}
                if len(state["groups"]) > self.max_groups:
                    raise ValueError(
                        f"IncrementalAggView at {self.path}: {len(state['groups'])} "
                        f"groups exceeds max_groups={self.max_groups} — group_cols "
                        f"{self.group_cols} are too high-cardinality for a "
                        "driver-held view; aggregate in the engine instead"
                    )
                state["epoch"] = epoch_id
                os.makedirs(self.path, exist_ok=True)
                commit.write_atomic(self._state_file(), json.dumps(state))
            commit.fault("view-state-written")
            self.target.apply_batch(batch, epoch_id)
        finally:
            compacted.unpersist()

    def current(self, spark: SparkSession) -> DataFrame:
        """The maintained view as a DataFrame."""
        state = self._read_state()
        rows = [
            (*json.loads(k), n, float(s)) for k, (n, s) in state["groups"].items()
        ]
        schema = ", ".join(f"{c} string" for c in self.group_cols)
        return spark.createDataFrame(
            rows, f"{schema}, n_rows long, sum_value double"
        )
