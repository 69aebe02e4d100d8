"""Offline rebucket/migration tool for merge targets (r13 verdict #5).

``._layout`` freezes ``num_buckets`` forever — correct, since bucket
routing is ``pmod(hash(key_cols), N)`` — but that left a target created
with too few buckets unable to ever rebalance. ``rebucket_target``
rewrites the table under a new N in one journaled commit; these tests
cover the happy path, kills after the journal (roll forward), LWW state
and refusals, plus fence continuity so the stream resumes. Kills at
every commit point of every user are in tests/test_commit_faults.py.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pipe_s_spark.streaming import MergeApplyTarget, commit
from pipe_s_spark.streaming.merge_apply import FLAT_CHANGELOG_SCHEMA, rebucket_target


def _mk_changes(spark, rows):
    data = [
        {"id": f"e{seq}", "seq": seq, "db": "d", "table_name": t, "op": op,
         "pk": pk, "k": k, "value": v, "ts_ms": seq}
        for seq, t, op, pk, k, v in rows
    ]
    return spark.createDataFrame(data, FLAT_CHANGELOG_SCHEMA)


def _seed(spark, path, lww=False, n=40, num_buckets=4) -> MergeApplyTarget:
    t = MergeApplyTarget(path, num_buckets=num_buckets, lww=lww)
    t.apply_batch(
        _mk_changes(spark, [(i, "t1", "insert", i, 1, float(i)) for i in range(n)]), 0
    )
    t.apply_batch(
        _mk_changes(
            spark,
            [(100 + i, "t1", "update", i, 1, 1000.0 + i) for i in range(0, n, 3)]
            + [(200, "t1", "delete", 1, 1, 0.0)],
        ),
        1,
    )
    return t


def _state(spark, t: MergeApplyTarget):
    return {
        (r["table_name"], r["pk"]): (r["k"], r["value"])
        for r in t.read_current(spark).collect()
    }


def _bucket_dirs(path):
    return sorted(e for e in os.listdir(path) if e.startswith("bucket="))


def test_rebucket_roundtrip_preserves_rows_and_updates_layout(spark, tmp_path):
    """Happy path: same logical state under the new bucket count, rows
    physically re-routed, ._layout updated, fence untouched, and the
    stream keeps applying epochs against the rebucketed table."""
    p = str(tmp_path / "t")
    t = _seed(spark, p)
    want = _state(spark, t)
    fence_before = t._read_fence()
    rebucket_target(spark, p, 16)
    with open(os.path.join(p, "._layout")) as f:
        assert json.load(f)["num_buckets"] == 16
    assert t._read_fence() == fence_before
    t16 = MergeApplyTarget(p, num_buckets=16)
    assert _state(spark, t16) == want
    assert len(_bucket_dirs(p)) > 4  # actually re-partitioned
    # rows really live where the new routing says they do
    df = spark.read.option("basePath", p).parquet(p)
    mis = df.filter(
        F.col("bucket") != F.pmod(F.hash("table_name", "pk"), F.lit(16))
    ).count()
    assert mis == 0
    # the stream continues: next epoch applies under the new layout
    t16.apply_batch(_mk_changes(spark, [(300, "t1", "update", 0, 1, -1.0)]), 2)
    assert _state(spark, t16)[("t1", 0)] == (1, -1.0)
    # the OLD-layout handle is refused loudly, not silently misrouted
    with pytest.raises(ValueError, match="layout"):
        t.apply_batch(_mk_changes(spark, [(301, "t1", "update", 2, 1, -2.0)]), 3)
    # no scratch left behind
    assert not [e for e in os.listdir(p) if e.startswith(".rebucket")]
    assert not [
        e
        for e in os.listdir(tmp_path)
        if e.startswith(os.path.basename(p) + ".rebucket")
    ]


@pytest.mark.parametrize(
    "point",
    [
        # the journal is on disk, nothing has moved yet
        pytest.param("journaled", id="journal-moving-new"),
        # old buckets parked, the first new bucket installed
        pytest.param("mid-install", id="mid-moving-new"),
        # ._layout rewritten, trash and stage not yet cleaned
        pytest.param("files-written", id="after-layout"),
    ],
)
def test_kill_after_point_of_no_return_rolls_forward(
    spark, tmp_path, monkeypatch, point
):
    """A kill once the journal is written rolls FORWARD: the next open
    finishes the swap, ``._layout`` holds the new count, and every row
    is present under the NEW bucket count."""
    p = str(tmp_path / "t")
    t = _seed(spark, p)
    want = _state(spark, t)

    class Killed(RuntimeError):
        pass

    def inject(at):
        if at == point:
            raise Killed(at)

    monkeypatch.setattr(commit, "fault", inject)
    with pytest.raises(Killed):
        rebucket_target(spark, p, 16)
    monkeypatch.setattr(commit, "fault", lambda at: None)
    t16 = MergeApplyTarget(p, num_buckets=16)
    assert _state(spark, t16) == want
    with open(os.path.join(p, "._layout")) as f:
        assert json.load(f)["num_buckets"] == 16
    assert not os.path.exists(os.path.join(p, "._journal"))
    assert not os.path.exists(os.path.join(p, "._trash"))
    df = spark.read.option("basePath", p).parquet(p)
    assert (
        df.filter(
            F.col("bucket") != F.pmod(F.hash("table_name", "pk"), F.lit(16))
        ).count()
        == 0
    )


def test_rebucket_lww_preserves_internal_state(spark, tmp_path):
    """LWW targets carry per-key seq + tombstones; the rebucket must
    move them VERBATIM — a late pre-delete update after the rebucket
    still cannot resurrect a deleted key, and highest-seq-wins still
    holds across the migration."""
    p = str(tmp_path / "t")
    t = MergeApplyTarget(p, num_buckets=2, lww=True)
    t.apply_batch(
        _mk_changes(
            spark,
            [
                (100, "t1", "update", 1, 1, 100.0),
                (110, "t1", "delete", 2, 1, 0.0),
                (120, "t1", "insert", 3, 1, 120.0),
            ],
        ),
        0,
    )
    rebucket_target(spark, p, 8)
    t8 = MergeApplyTarget(p, num_buckets=8, lww=True)
    # an OLDER epoch replayed after the rebucket: seq 50 < 110 must not
    # resurrect pk=2; seq 50 < 100 must not clobber pk=1
    t8.apply_batch(
        _mk_changes(
            spark,
            [(50, "t1", "update", 2, 1, 50.0), (50, "t1", "update", 1, 1, 50.0)],
        ),
        1,
    )
    got = _state(spark, t8)
    assert ("t1", 2) not in got  # tombstone survived the migration
    assert got[("t1", 1)] == (1, 100.0)
    assert got[("t1", 3)] == (1, 120.0)


def test_rebucket_refuses_uninitialized_and_noops_same_n(spark, tmp_path):
    p = str(tmp_path / "t")
    with pytest.raises(ValueError, match="_layout"):
        rebucket_target(spark, p + "missing", 8)
    t = _seed(spark, p)
    want = _state(spark, t)
    before = os.stat(os.path.join(p, "._layout")).st_mtime_ns
    rebucket_target(spark, p, 4)  # same N: no-op
    assert os.stat(os.path.join(p, "._layout")).st_mtime_ns == before
    assert _state(spark, t) == want
