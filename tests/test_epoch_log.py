"""The epoch log's read schema (one type per column over every
partition, whatever nested nullability each writer recorded) and its
epoch fan-out helpers."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from pipe_s_spark.streaming import epoch_log


def test_nested_nullability_is_no_type_change(spark, tmp_path):
    """``F.split`` writes a non-null-element array; the folded partition
    a compaction writes from a file-source read stores it nullable.
    Both are one type, so a later strictly-earlier read sees every
    row instead of refusing the log."""
    path = str(tmp_path / "log")

    def epoch(e):
        df = spark.createDataFrame([(e, f"a b {e}")], "k long, s string")
        return df.select("k", F.split("s", " ").alias("w"))

    for e in (0, 1):
        epoch_log.append(path, epoch(e), e)
    assert epoch_log.compact_index_partitions(spark, path, 2) == 1
    epoch_log.append(path, epoch(2), 2)
    rows = epoch_log.read(spark, path, before=3).collect()
    assert sorted((r["k"], list(r["w"]), r["batch_id"]) for r in rows) == [
        (0, ["a", "b", "0"], 1),
        (1, ["a", "b", "1"], 1),
        (2, ["a", "b", "2"], 2),
    ]


def _fail(e: BaseException) -> None:
    raise e


def test_concurrently_raises_every_failure(spark):
    """Two failing actions raise one ``BaseExceptionGroup`` holding both,
    and the action between them still runs; one failing action
    re-raises as itself. ``_raise_all``'s Python 3.10 branch (the first
    failure with the others attached as ``__notes__``) runs only on
    3.10, so this suite on 3.11+ does not reach it."""
    a, b, ran = KeyError("a"), ValueError("b"), []
    with pytest.raises(BaseExceptionGroup) as group:
        epoch_log.concurrently(
            functools.partial(_fail, a), lambda: ran.append(1), functools.partial(_fail, b)
        )
    assert ran == [1]
    assert {id(e) for e in group.value.exceptions} == {id(a), id(b)}
    with pytest.raises(KeyError) as one:
        epoch_log.concurrently(functools.partial(_fail, a), lambda: None)
    assert one.value is a


def test_checkpointed_frees_its_blocks_on_exit(spark):
    """Inside the block the frame is a materialized local checkpoint;
    on exit its RDD is no longer persisted, even when the block
    raised."""
    jsc = spark.sparkContext._jsc
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError):
        with epoch_log.checkpointed(df) as local:
            assert set(jsc.getPersistentRDDs().keys()) > before
            assert local.agg(F.sum("v")).collect()[0][0] == 9900
            raise RuntimeError("epoch failed")
    assert set(jsc.getPersistentRDDs().keys()) == before
