"""The epoch log's read schema: one type per column over every
partition, whatever nested nullability each writer recorded."""

from __future__ import annotations

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
