"""Storage-layout contracts: z-order clustered writes give disjoint
key ranges per file, and the key interleaves bits in both dialects."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipe_s_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_zorder_clustered_write_gives_disjoint_key_ranges(spark, tmp_path):
    """Each output file covers a contiguous, non-overlapping z-key
    range (range partition + local sort), so min/max footer stats
    prune selective predicates on either clustered dimension."""
    from pipe_s_spark.sources.layout import write_zorder_clustered, zorder_key_sql

    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "events_zorder")
    write_zorder_clustered(ev, path, "user_id", "FLOOR(value)", num_files=4)

    df = spark.read.parquet(path)
    assert df.count() == ev.count()
    zkey = F.expr(zorder_key_sql("user_id", "FLOOR(value)", dialect="spark"))
    ranges = (
        df.withColumn("f", F.input_file_name())
        .withColumn("z", zkey)
        .groupBy("f")
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) > 1
    for prev, cur in zip(ranges, ranges[1:]):
        assert prev["hi"] <= cur["lo"], "z-key ranges overlap across files"


def test_zorder_key_interleaves_bits():
    from pipe_s_spark.sources.layout import zorder_key_sql

    import duckdb

    con = duckdb.connect()
    expr = zorder_key_sql("x", "y", bits=4, dialect="duckdb")
    got = con.execute(
        f"SELECT {expr} FROM (VALUES (5, 3), (0, 0), (15, 15), (8, 1)) t(x, y)"
    ).fetchall()

    def morton(x, y, bits=4):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    assert [r[0] for r in got] == [morton(5, 3), 0, morton(15, 15), morton(8, 1)]

    with pytest.raises(ValueError):
        zorder_key_sql("x", "y", bits=0)
    with pytest.raises(ValueError):
        zorder_key_sql("x", "y", dialect="nope")
