"""Referee for ``MergeApplyTarget.apply_batch``: seeded random
changelogs, applied epoch by epoch, must leave the target equal to a
plain-Python oracle after every epoch.

The oracle states the sink's rules directly, without Spark:

- per key and epoch, the batch collapses to its net effect
  (``operators/compaction.py``): the first event decides whether the
  key was absent before the window (insert), the last event's payload
  wins, and a window that opens with an insert and closes with a
  delete annihilates, so it leaves the stored row alone;
- blind mode applies the net effect over the stored rows: a delete
  removes the key, anything else replaces its row;
- LWW mode keeps the stored row when its seq is higher than the
  window's last seq (ties go to the incoming row) and remembers a
  delete as a tombstone that hides the key from the public view.
"""

from __future__ import annotations

import glob
import os
import random

import pytest
from pyspark.sql import types as T

from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

KEYS = ("table_name", "pk")
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("pk", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
    ]
)
COMPACTED_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("pk", T.LongType()),
        T.StructField("net_op", T.StringType()),
        T.StructField("last_seq", T.LongType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
    ]
)


# ------------------------------------------------------------------ oracle


def net_effects(events):
    """key -> (net_op, last_seq, (k, value)) for one batch of
    ``(table_name, pk, seq, op, k, value)`` events; annihilated keys
    are absent. Seqs are unique per key, so the order is total."""
    by_key: dict = {}
    for ev in events:
        by_key.setdefault(ev[:2], []).append(ev)
    out = {}
    for key, evs in by_key.items():
        evs.sort(key=lambda e: e[2])
        first_ins, last_del = evs[0][3] == "insert", evs[-1][3] == "delete"
        if first_ins and last_del:
            continue
        op = "insert" if first_ins else "delete" if last_del else "update"
        out[key] = (op, evs[-1][2], evs[-1][4:])
    return out


def apply_oracle(state: dict, effects: dict, lww: bool) -> None:
    """Fold one batch's net effects into ``state``: key -> (payload,
    seq, tomb) for LWW, key -> payload for blind."""
    for key, (op, seq, payload) in effects.items():
        if not lww:
            if op == "delete":
                state.pop(key, None)
            else:
                state[key] = payload
        elif key not in state or seq >= state[key][1]:
            state[key] = (payload, seq, op == "delete")


def public_rows(state: dict, lww: bool) -> list:
    if not lww:
        return sorted(((*k, *p) for k, p in state.items()), key=repr)
    return sorted(((*k, *p) for k, (p, _, tomb) in state.items() if not tomb), key=repr)


def internal_rows(state: dict) -> list:
    return sorted(((*k, *p, s, t) for k, (p, s, t) in state.items()), key=repr)


# ------------------------------------------------------------------ helpers


def target_rows(spark, tgt: MergeApplyTarget, internal: bool = False) -> list:
    cols = [*KEYS, "k", "value"] + (["__seq", "__tomb"] if internal else [])
    df = tgt.read_current(spark, internal=internal).select(*cols)
    return sorted((tuple(r) for r in df.collect()), key=repr)


def random_epoch(rng: random.Random, seqs: list, n_keys: int = 24, n_events: int = 60):
    """Random events over a small key space with NULL pks in it; each
    event draws a unique seq from ``seqs`` (shuffled across epochs, so
    later epochs carry late events too)."""
    events = []
    for _ in range(n_events):
        pk = rng.randrange(n_keys)
        events.append(
            (
                rng.choice(["a", "b", None]) if pk == 0 else rng.choice(["a", "b"]),
                None if pk == 1 else pk,
                seqs.pop(),
                rng.choice(["insert", "update", "delete"]),
                rng.randrange(100),
                rng.randrange(1000) / 4,
            )
        )
    rng.shuffle(events)
    return events


def run_epochs(spark, tmp_path, epochs, lww: bool, num_buckets: int = 4):
    """Apply each batch of events as its own epoch and check the target
    against the oracle after every one of them."""
    tgt = MergeApplyTarget(str(tmp_path / "t"), key_cols=KEYS, num_buckets=num_buckets, lww=lww)
    state: dict = {}
    for e, events in enumerate(epochs):
        assert tgt.apply_batch(spark.createDataFrame(events, EVENT_SCHEMA), epoch_id=e)
        apply_oracle(state, net_effects(events), lww)
        assert target_rows(spark, tgt) == public_rows(state, lww), f"epoch {e}"
        if lww:
            assert target_rows(spark, tgt, internal=True) == internal_rows(state), f"epoch {e}"
    return tgt, state


# ------------------------------------------------------------------ tests


@pytest.mark.parametrize("lww", [False, True], ids=["blind", "lww"])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_changelogs_match_oracle(spark, tmp_path, lww, seed):
    rng = random.Random(seed)
    seqs = list(range(1, 1000))
    rng.shuffle(seqs)
    run_epochs(spark, tmp_path, [random_epoch(rng, seqs) for _ in range(3)], lww)


@pytest.mark.parametrize("lww", [False, True], ids=["blind", "lww"])
def test_named_transitions(spark, tmp_path, lww):
    """Epoch 0 stores keys 1-4; epoch 1 runs one named transition on
    each of them plus two new keys, one of them NULL."""
    stored = [("t", pk, pk, "insert", pk, pk * 1.5) for pk in range(1, 5)]
    transitions = [
        # insert -> delete on a stored key annihilates: the row stays
        ("t", 1, 10, "insert", 11, 0.0),
        ("t", 1, 11, "delete", 12, 0.0),
        # delete -> insert resolves to an update with the insert's row
        ("t", 2, 12, "delete", 20, 0.0),
        ("t", 2, 13, "insert", 21, 2.25),
        # update after delete resolves to an update
        ("t", 3, 14, "delete", 30, 0.0),
        ("t", 3, 15, "update", 31, 3.25),
        # a plain delete removes the key
        ("t", 4, 16, "delete", 40, 0.0),
        # a NULL key merges like any other key
        ("t", None, 17, "insert", 50, 5.5),
        ("t", None, 18, "update", 51, 5.75),
        # insert -> delete on a new key leaves nothing behind
        ("t", 9, 19, "insert", 90, 0.0),
        ("t", 9, 20, "delete", 91, 0.0),
    ]
    _, state = run_epochs(spark, tmp_path, [stored, transitions], lww)
    expect = {
        ("t", 1): (1, 1.5),
        ("t", 2): (21, 2.25),
        ("t", 3): (31, 3.25),
        ("t", None): (51, 5.75),
    }
    assert {k: (v[0] if lww else v) for k, v in state.items() if not (lww and v[2])} == expect


@pytest.mark.parametrize("lww", [False, True], ids=["blind", "lww"])
def test_precompacted_batch(spark, tmp_path, lww):
    """A batch that already carries ``net_op``/``last_seq`` (a pipeline
    'compact' stage upstream) applies as its own net effects."""
    tgt = MergeApplyTarget(str(tmp_path / "t"), key_cols=KEYS, num_buckets=4, lww=lww)
    stored = [("t", pk, pk, "insert", pk, pk * 1.0) for pk in range(6)]
    assert tgt.apply_batch(spark.createDataFrame(stored, EVENT_SCHEMA), epoch_id=0)
    state: dict = {}
    apply_oracle(state, net_effects(stored), lww)
    compacted = [
        ("t", 0, "update", 10, 100, 10.0),
        ("t", 1, "delete", 11, 0, 0.0),
        ("t", 2, "insert", 12, 102, 12.0),
        ("t", 7, "insert", 13, 107, 13.0),
        ("t", None, "update", 14, 108, 14.0),
        ("t", 8, "delete", 15, 0, 0.0),
        # a late effect: LWW keeps the stored row (seq 5 > 3)
        ("t", 5, "update", 3, 105, 15.0),
    ]
    assert tgt.apply_batch(spark.createDataFrame(compacted, COMPACTED_SCHEMA), epoch_id=1)
    apply_oracle(state, {r[:2]: (r[2], r[3], r[4:]) for r in compacted}, lww)
    assert target_rows(spark, tgt) == public_rows(state, lww)
    if lww:
        assert target_rows(spark, tgt, internal=True) == internal_rows(state)


def test_fully_deleted_bucket_installs_empty(spark, tmp_path):
    """Deleting every row of one bucket leaves that bucket directory in
    place with no rows, and the other buckets untouched."""
    rows = [("t", pk, pk, "insert", pk, pk * 1.0) for pk in range(40)]
    tgt = MergeApplyTarget(str(tmp_path / "t"), key_cols=KEYS, num_buckets=4)
    assert tgt.apply_batch(spark.createDataFrame(rows, EVENT_SCHEMA), epoch_id=0)
    buckets = {
        r["pk"]: r["b"]
        for r in spark.createDataFrame(rows, EVENT_SCHEMA)
        .select("pk", tgt._bucket().alias("b"))
        .collect()
    }
    victim = buckets[0]
    deletes = [("t", pk, 100 + pk, "delete", 0, 0.0) for pk, b in buckets.items() if b == victim]
    assert tgt.apply_batch(spark.createDataFrame(deletes, EVENT_SCHEMA), epoch_id=1)
    bucket_dir = os.path.join(tgt.path, f"bucket={victim}")
    assert os.path.isdir(bucket_dir)
    assert not glob.glob(os.path.join(bucket_dir, "*.parquet"))
    left = {r["pk"] for r in tgt.read_current(spark).collect()}
    assert left == {pk for pk, b in buckets.items() if b != victim}


def test_lww_late_and_tied_replays(spark, tmp_path):
    """LWW: an epoch of older events never clobbers newer state, a late
    delete leaves no tombstone over a newer row, and an event whose seq
    ties the stored one wins (so an exact replay is idempotent)."""
    epochs = [
        [("t", 1, 50, "insert", 1, 1.0), ("t", 2, 50, "insert", 2, 2.0),
         ("t", 3, 50, "insert", 3, 3.0), ("t", 4, 60, "delete", 0, 0.0)],
        # late: lower seqs than stored, including a late delete and a
        # late update that must not resurrect the tombstoned key 4
        [("t", 1, 10, "update", 10, 10.0), ("t", 2, 20, "delete", 0, 0.0),
         ("t", 4, 30, "update", 40, 40.0)],
        # tied seqs: incoming wins, both for a new payload and a delete
        [("t", 1, 50, "update", 11, 11.0), ("t", 3, 50, "delete", 0, 0.0)],
        # exact replay of the tied epoch's events
        [("t", 1, 50, "update", 11, 11.0), ("t", 3, 50, "delete", 0, 0.0)],
    ]
    tgt, state = run_epochs(spark, tmp_path, epochs, lww=True)
    assert target_rows(spark, tgt) == [("t", 1, 11, 11.0), ("t", 2, 2, 2.0)]
    assert state[("t", 4)] == ((0, 0.0), 60, True)
