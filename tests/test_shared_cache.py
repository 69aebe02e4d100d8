"""Unit tests for functions.shared — the session-scoped materialized
intermediate memo backing the dedup query family."""

from __future__ import annotations

from pipe_s_spark.functions import shared as SH


def test_builder_runs_once_and_result_is_stable(spark):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).withColumnRenamed("id", "v")

    a = SH.materialized(spark, ("t1",), build)
    b = SH.materialized(spark, ("t1",), build)
    assert calls["n"] == 1
    assert a is b
    assert sorted(r["v"] for r in a.collect()) == [0, 1, 2, 3, 4]


def test_distinct_keys_do_not_collide(spark):
    x = SH.materialized(spark, ("k", 1), lambda: spark.range(1))
    y = SH.materialized(spark, ("k", 2), lambda: spark.range(2))
    assert x.count() == 1
    assert y.count() == 2


def test_fifo_eviction_bounds_entries(spark):
    SH.clear()
    old_max = SH.MAX_ENTRIES
    SH.MAX_ENTRIES = 3
    try:
        for i in range(5):
            SH.materialized(spark, ("evict", i), lambda i=i: spark.range(i + 1))
        assert len(SH._memo) == 3
        # oldest two evicted; a rebuild is triggered for them
        calls = {"n": 0}

        def rebuild():
            calls["n"] += 1
            return spark.range(1)

        SH.materialized(spark, ("evict", 0), rebuild)
        assert calls["n"] == 1
    finally:
        SH.MAX_ENTRIES = old_max
        SH.clear()


def test_evicted_handles_stay_usable(spark):
    """Eviction must not unpersist: localCheckpoint truncates lineage,
    so an evicted handle a caller still holds cannot recompute — it
    must keep answering until clear()/teardown reclaims it."""
    SH.clear()
    old_max = SH.MAX_ENTRIES
    SH.MAX_ENTRIES = 2
    try:
        held = SH.materialized(spark, ("hold", 0), lambda: spark.range(7))
        for i in range(1, 4):
            SH.materialized(spark, ("hold", i), lambda i=i: spark.range(i))
        assert len(SH._memo) == 2  # ("hold", 0) evicted
        assert held.count() == 7  # evicted handle still answers
        assert len(SH._evicted) >= 1
    finally:
        SH.MAX_ENTRIES = old_max
        SH.clear()
        assert not SH._evicted


def test_scalar_memo_is_fifo_bounded(spark):
    """The scalar memo (corpus counts, trained centroids and codebooks)
    shares MAX_ENTRIES: past it the oldest value is dropped and rebuilt
    on its next use; every build lands in the build log."""
    SH.clear()
    old_max = SH.MAX_ENTRIES
    SH.MAX_ENTRIES = 2
    try:
        for i in range(3):
            assert SH.scalar(spark, ("bound", i), lambda i=i: i * 10) == i * 10
        assert len(SH._scalars) == 2
        assert SH.scalar(spark, ("bound", 2), lambda: -1) == 20  # still memoized
        assert SH.scalar(spark, ("bound", 0), lambda: -1) == -1  # evicted, rebuilt
        assert [k[1:] for k, _s in SH.drain_build_log()] == [
            ("bound", 0), ("bound", 1), ("bound", 2), ("bound", 0)
        ]
    finally:
        SH.MAX_ENTRIES = old_max
        SH.clear()


def test_result_is_checkpointed(spark):
    df = SH.materialized(spark, ("chk",), lambda: spark.range(3))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    SH.clear()
