"""Unit tests for pipe_s_spark.sizing — the data-proportional bulk
shuffle sizing introduced in r13 (VERDICT r12 #3). The integration
guards live in test_scale_guards (compact reducer scaling, apply_batch
conf-scope restore); these pin the helper semantics themselves."""

from __future__ import annotations

import math

from pipe_s_spark import sizing


def test_plan_size_bytes_on_real_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    n = sizing.plan_size_bytes(df)
    # uncompressed estimate of a ~60K-row lineitem: positive, sane
    assert n is not None and 10_000 < n < 10**11


def test_plan_size_bytes_unknown_is_none():
    # the None path needs a plan whose stats saturate Catalyst's
    # "unknown" sentinel — emulate the py4j surface directly:
    # anything >= 2^62 is treated as unknown
    class FakeStats:
        def sizeInBytes(self):
            return 1 << 62

    class FakePlan:
        def stats(self):
            return FakeStats()

    class FakeQE:
        def analyzed(self):
            return FakePlan()

    class FakeJdf:
        def queryExecution(self):
            return FakeQE()

    class FakeDF:
        _jdf = FakeJdf()

    assert sizing.plan_size_bytes(FakeDF()) is None


def test_bulk_partitions_rule(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    nbytes = sizing.plan_size_bytes(df)
    want = max(
        1,
        min(
            sizing.BULK_MAX_PARTITIONS,
            math.ceil(nbytes / sizing.BULK_TARGET_PARTITION_BYTES),
        ),
    )
    assert sizing.bulk_partitions(df) == want
    # explicit target overrides the module default
    assert sizing.bulk_partitions(df, target_bytes=nbytes) == 1
    # cap holds
    assert sizing.bulk_partitions(df, target_bytes=1) == sizing.BULK_MAX_PARTITIONS


# --- fan_out (r15) --------------------------------------------------------


def test_fan_out_small_input_repartitions(spark):
    """A small scan (estimated bytes << parallelism x maxPartitionBytes)
    gains an explicit repartition to defaultParallelism."""
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    out = sizing.fan_out(df, by=["id"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan
    # row content unchanged
    assert out.count() == 1000


def test_fan_out_round_robin_without_keys(spark):
    df = spark.range(1000)
    out = sizing.fan_out(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan


def test_fan_out_large_estimate_is_noop(spark, monkeypatch):
    """When the plan-size estimate says the scan already out-parallelizes
    the session, fan_out must add NOTHING (the cluster-scale path)."""
    df = spark.range(1000)
    monkeypatch.setattr(sizing, "plan_size_bytes", lambda _df: 1 << 50)
    out = sizing.fan_out(df, by=["id"])
    assert out is df


def test_fan_out_unknown_size_is_noop(spark, monkeypatch):
    monkeypatch.setattr(sizing, "plan_size_bytes", lambda _df: None)
    df = spark.range(10)
    assert sizing.fan_out(df) is df


def test_fan_out_results_identical(spark):
    """fan_out only moves rows: an order-insensitive aggregate over the
    fanned-out relation matches the plain one exactly."""
    from pyspark.sql import functions as F

    df = spark.range(5000).selectExpr("id % 7 AS k", "CAST(id AS DOUBLE) AS x")
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("x").cast("decimal(18,2)")).alias("s"))
        .collect()
    }
    fanned = {
        r["k"]: (r["n"], r["s"])
        for r in sizing.fan_out(df, by=["k"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("x").cast("decimal(18,2)")).alias("s"))
        .collect()
    }
    assert plain == fanned


def test_fan_out_midscale_splittable_is_noop(spark, monkeypatch):
    """r16 (advice): an input whose scan already splits into many tasks
    (estimated splits >= FAN_OUT_MAX_SPLITS, or >= par/2) must NOT be
    fanned, even when its TOTAL bytes sit below parallelism x
    maxPartitionBytes — the r15 byte-only gate approved a data-sized
    shuffle for exactly this mid-scale shape."""
    df = spark.range(1000)
    mpb = 128 * 1024 * 1024
    monkeypatch.setattr(
        sizing, "plan_size_bytes", lambda _df: (sizing.FAN_OUT_MAX_SPLITS + 2) * mpb
    )
    assert sizing.fan_out(df, by=["id"]) is df
    assert sizing.fan_out(df) is df
