"""DeltaAppendTarget — the LSM-shaped CDC sink (r14).

The bucketed merge target's steady-state limit is rewrite
amplification: uniformly-hashed keys touch every bucket, so a 1%
update epoch rewrites ~the whole table. The delta target appends each
epoch's net effects O(batch), resolves reads last-writer-wins with
tombstones, and periodically folds into a bucketed base. These tests
pin: batch-oracle equivalence, replay/out-of-order idempotence, the
O(batch) append (untouched partitions byte-identical), tombstone
semantics across the fold, the fold watermark barrier (a replayed
pre-fold epoch is ignored by every reader), and crash-between-fold-
and-watermark idempotence.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pipe_s_spark.operators import compact_changelog, merge_apply
from pipe_s_spark.streaming import DeltaAppendTarget, MergeApplyTarget
from pipe_s_spark.streaming.merge_apply import FLAT_CHANGELOG_SCHEMA


def _mk(spark, rows):
    data = [
        {"id": f"e{seq}", "seq": seq, "db": "d", "table_name": t, "op": op,
         "pk": pk, "k": k, "value": v, "ts_ms": seq}
        for seq, t, op, pk, k, v in rows
    ]
    return spark.createDataFrame(data, FLAT_CHANGELOG_SCHEMA)


EPOCH0 = [(i, "t1", "insert", i, 1, float(i)) for i in range(20)]
EPOCH1 = [(100 + i, "t1", "update", i, 1, 100.0 + i) for i in range(0, 20, 3)] + [
    (200, "t1", "delete", 5, 1, 0.0)
]
EPOCH2 = [(300, "t1", "insert", 50, 2, 7.5), (310, "t1", "update", 0, 1, -1.0)]


def _oracle(spark, all_rows):
    cl = _mk(spark, all_rows)
    compacted = compact_changelog(
        cl, key_cols=("table_name", "pk"), payload_cols=("k", "value")
    )
    empty = compacted.filter(F.lit(False)).select("table_name", "pk", "k", "value")
    return {
        (r["table_name"], r["pk"]): (r["k"], r["value"])
        for r in merge_apply(
            empty, compacted, ("table_name", "pk"), ("k", "value")
        ).collect()
    }


def _state(df):
    return {
        (r["table_name"], r["pk"]): (r["k"], r["value"]) for r in df.collect()
    }


def test_delta_reads_match_batch_oracle(spark, tmp_path):
    t = DeltaAppendTarget(str(tmp_path / "d"))
    t.apply_batch(_mk(spark, EPOCH0), 0)
    t.apply_batch(_mk(spark, EPOCH1), 1)
    t.apply_batch(_mk(spark, EPOCH2), 2)
    want = _oracle(spark, EPOCH0 + EPOCH1 + EPOCH2)
    assert _state(t.read_current(spark)) == want
    assert ("t1", 5) not in want  # the tombstone really hides a row


def test_append_is_o_batch_and_replay_idempotent(spark, tmp_path):
    """Epoch N+1 leaves every other batch partition byte-identical
    (O(batch) append — the property the bucketed target cannot give at
    steady state), and a replayed epoch rewrites identical content."""
    t = DeltaAppendTarget(str(tmp_path / "d"))
    t.apply_batch(_mk(spark, EPOCH0), 0)

    def snap(exclude):
        out = {}
        for dp, _dirs, fns in os.walk(t.path):
            for fn in fns:
                p = os.path.join(dp, fn)
                rel = os.path.relpath(p, t.path)
                if not rel.startswith(exclude):
                    with open(p, "rb") as f:
                        out[rel] = f.read()
        return out

    before = snap("batch_id=1")
    t.apply_batch(_mk(spark, EPOCH1), 1)
    assert snap("batch_id=1") == before, "append touched another epoch's files"
    # replay of epoch 1 (same input): logical state unchanged
    state = _state(t.read_current(spark))
    t.apply_batch(_mk(spark, EPOCH1), 1)
    assert _state(t.read_current(spark)) == state


def test_out_of_order_epoch_cannot_clobber_newer_state(spark, tmp_path):
    """LWW by (last_seq, batch_id): a late batch of OLDER events
    arriving as a later epoch must lose to already-applied newer
    state, and a pre-delete update must not resurrect the row."""
    t = DeltaAppendTarget(str(tmp_path / "d"))
    t.apply_batch(
        _mk(spark, [(100, "t1", "update", 1, 1, 100.0), (110, "t1", "delete", 2, 1, 0.0)]),
        0,
    )
    # seqs 50 < everything above, delivered later
    t.apply_batch(
        _mk(spark, [(50, "t1", "update", 1, 1, 50.0), (50, "t1", "update", 2, 1, 50.0)]),
        1,
    )
    got = _state(t.read_current(spark))
    assert got[("t1", 1)] == (1, 100.0)
    assert ("t1", 2) not in got  # tombstone survived the late update


def test_fold_into_base_and_watermark_barrier(spark, tmp_path):
    t = DeltaAppendTarget(str(tmp_path / "d"))
    base = MergeApplyTarget(str(tmp_path / "b"), num_buckets=4)
    t.apply_batch(_mk(spark, EPOCH0), 0)
    t.apply_batch(_mk(spark, EPOCH1), 1)
    pre = _state(t.read_current(spark))
    assert t.fold_into(base, epoch_id=1)
    # the fold moved the full LWW state (incl. delete of pk=5) to base
    assert _state(base.read_current(spark)) == pre
    assert t.folded_through() == 1
    # folded partitions truncated; merged view == base view
    assert not [e for e in os.listdir(t.path) if e.startswith("batch_id=")]
    assert _state(t.read_merged(spark, base)) == pre
    # a zombie replay of a FOLDED epoch: skipped on apply, and even a
    # raw recreated partition would sit at/below the watermark every
    # reader filters on
    assert t.apply_batch(_mk(spark, EPOCH1), 1) is False
    assert _state(t.read_merged(spark, base)) == pre
    # post-fold deltas overlay the base in the merged view
    t.apply_batch(_mk(spark, EPOCH2), 2)
    want = _oracle(spark, EPOCH0 + EPOCH1 + EPOCH2)
    assert _state(t.read_merged(spark, base)) == want
    # second fold catches up
    assert t.fold_into(base, epoch_id=2)
    assert _state(base.read_current(spark)) == want
    assert t.fold_into(base, epoch_id=3) is False  # nothing unfolded


def test_fold_crash_before_watermark_is_idempotent(spark, tmp_path):
    """Crash window: base fold committed, watermark not yet written.
    The restart re-folds the SAME resolved net state into the base
    (new epoch id, idempotent effects) — no loss, no duplication."""
    t = DeltaAppendTarget(str(tmp_path / "d"))
    base = MergeApplyTarget(str(tmp_path / "b"), num_buckets=4)
    t.apply_batch(_mk(spark, EPOCH0), 0)
    t.apply_batch(_mk(spark, EPOCH1), 1)
    pre = _state(t.read_current(spark))
    # simulate the crash by folding WITHOUT truncation and rolling the
    # watermark back (the exact on-disk state a kill between the base
    # commit and the watermark write leaves behind)
    assert t.fold_into(base, epoch_id=1, truncate=False)
    os.remove(t._watermark_path())
    assert t.folded_through() == -1
    # restart path: fold again under a fresh epoch id
    assert t.fold_into(base, epoch_id=2)
    assert _state(base.read_current(spark)) == pre
    assert _state(t.read_merged(spark, base)) == pre


def test_delta_empty_target_read_and_unknown_columns(spark, tmp_path):
    import pytest

    t = DeltaAppendTarget(str(tmp_path / "d"))
    assert t.read_current(spark).count() == 0  # canonical-schema types
    t2 = DeltaAppendTarget(str(tmp_path / "d2"), payload_cols=("custom",))
    with pytest.raises(ValueError, match="no type known"):
        t2.read_current(spark)


def test_runner_delta_output_with_fold(spark, tmp_path):
    """JSON-config front-end: a 'delta' output appends the piped
    changelog's net effects; 'foldInto' compacts them into a bucketed
    base in the same run. Re-running the same spec is a watermark
    no-op, exactly like the 'merge' output's fence story."""
    import json

    from pipe_s_spark.plans.runner import run_pipeline

    src = str(tmp_path / "in")
    _mk(spark, EPOCH0 + EPOCH1).write.parquet(src)
    d, b = str(tmp_path / "d"), str(tmp_path / "b")
    spec = {
        "Input": {"Type": "parquet", "Config": {"path": src}},
        "Output": {
            "Type": "delta",
            "Config": {
                "path": d,
                "keyCols": ["table_name", "pk"],
                "payloadCols": ["k", "value"],
                "epochId": 1,
                "foldInto": {"path": b, "numBuckets": 4, "epochId": 1},
            },
        },
    }
    json.dumps(spec)  # stays JSON-serializable (config-file form)
    run_pipeline(spark, spec)
    want = _oracle(spark, EPOCH0 + EPOCH1)
    base = MergeApplyTarget(b, num_buckets=4)
    assert _state(base.read_current(spark)) == want
    t = DeltaAppendTarget(d)
    assert t.folded_through() == 1
    # replayed spec: watermark no-op, state unchanged
    run_pipeline(spark, spec)
    assert _state(base.read_current(spark)) == want


def test_widened_column_reads_and_folds_from_a_fresh_handle(spark, tmp_path):
    """Epoch 0 writes ``k`` as int and epoch 1 as bigint (a value past
    2**31). Every read resolves one schema with the widest type per
    column, so a fresh handle reads both rows and the fold succeeds."""
    from pyspark.sql import types as T

    wide = T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name == "k" else f.dataType)
            for f in FLAT_CHANGELOG_SCHEMA.fields
        ]
    )
    row = {"id": "e1", "seq": 1, "db": "d", "table_name": "t1", "op": "insert",
           "pk": 2, "k": 2**40, "value": 2.0, "ts_ms": 1}
    DeltaAppendTarget(str(tmp_path / "d")).apply_batch(
        _mk(spark, [(0, "t1", "insert", 1, 7, 1.0)]), 0
    )
    DeltaAppendTarget(str(tmp_path / "d")).apply_batch(
        spark.createDataFrame([row], wide), 1
    )
    want = {("t1", 1): (7, 1.0), ("t1", 2): (2**40, 2.0)}
    t = DeltaAppendTarget(str(tmp_path / "d"))
    assert _state(t.read_current(spark)) == want
    base = MergeApplyTarget(str(tmp_path / "b"), num_buckets=4)
    assert t.fold_into(base, epoch_id=0)
    assert _state(base.read_current(spark)) == want


def test_incompatible_column_change_is_refused(spark, tmp_path):
    """A type change no reader can widen to (int -> string) fails
    loudly instead of reading one epoch's values as the other's."""
    import pytest
    from pyspark.sql import types as T

    strk = T.StructType(
        [
            T.StructField(f.name, T.StringType() if f.name == "k" else f.dataType)
            for f in FLAT_CHANGELOG_SCHEMA.fields
        ]
    )
    row = {"id": "e1", "seq": 1, "db": "d", "table_name": "t1", "op": "insert",
           "pk": 2, "k": "x", "value": 2.0, "ts_ms": 1}
    t = DeltaAppendTarget(str(tmp_path / "d"))
    t.apply_batch(_mk(spark, [(0, "t1", "insert", 1, 7, 1.0)]), 0)
    t.apply_batch(spark.createDataFrame([row], strk), 1)
    with pytest.raises(ValueError, match="column 'k'"):
        DeltaAppendTarget(str(tmp_path / "d")).read_current(spark)


def test_fully_folded_log_reads_stored_types_from_a_fresh_handle(spark, tmp_path):
    """After a fold that keeps its partitions (``truncate=False``, or a
    kill before the truncation), a fresh handle still reads an empty
    frame of the stored types, custom payload columns included."""
    cols = ("k", "note")
    batch = _mk(spark, EPOCH0).withColumn("note", F.lit("x"))
    d = str(tmp_path / "d")
    DeltaAppendTarget(d, payload_cols=cols).apply_batch(batch, 0)
    base = MergeApplyTarget(str(tmp_path / "b"), payload_cols=cols, num_buckets=4)
    assert DeltaAppendTarget(d, payload_cols=cols).fold_into(base, 0, truncate=False)
    cur = DeltaAppendTarget(d, payload_cols=cols).read_current(spark)
    assert cur.count() == 0
    assert dict(cur.dtypes) == {"table_name": "string", "pk": "bigint", "k": "int", "note": "string"}
