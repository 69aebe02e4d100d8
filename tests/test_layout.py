"""Storage-layout contracts: partition pruning and shuffle-free
bucketed joins, asserted on the physical plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipe_s_spark.sources import load_table
from pipe_s_spark.sources.layout import write_bucketed, write_time_partitioned

SF = "/root/testdata/sf0.001"


def test_time_partitioned_write_prunes(spark, tmp_path):
    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "events_by_day")
    write_time_partitioned(ev, path, ts_col="ts")

    df = spark.read.parquet(path)
    one_day = df.select("p_date").distinct().orderBy("p_date").first()["p_date"]
    q = df.filter(F.col("p_date") == one_day).select("event_id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # pruned scan reads strictly fewer rows than the table holds
    assert 0 < q.count() < ev.count()


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], num_buckets=4)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b",
        ["o_orderkey"],
        num_buckets=4,
    )
    try:
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        # disable broadcast so the co-located (bucketed) path is what
        # avoids the shuffle, not a broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = a.join(b, "o_orderkey").groupBy("o_orderstatus").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        join_section = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
        # neither join input re-shuffles: no hashpartitioning exchange
        # between the join and the bucketed scans
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_write_sharded_controls_file_count(spark, tmp_path):
    import glob

    from pipe_s_spark.sources.layout import write_sharded

    li = load_table(spark, SF, "lineitem")
    out = str(tmp_path / "shards")
    # tiny target forces multiple shards even at sf0.001
    shards = write_sharded(li, out, target_file_mb=1)
    files = glob.glob(f"{out}/part-*.parquet")
    assert shards >= 1 and len(files) == shards
    got = spark.read.parquet(out)
    assert got.count() == li.count()


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
