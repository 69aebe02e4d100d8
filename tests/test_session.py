"""session.get_spark: the local parallelism fallback and the driver
JVM's options."""

from __future__ import annotations

import os

from pipe_s_spark.session import DRIVER_JAVA_OPTIONS, local_parallelism


def test_local_parallelism_falls_back_to_the_usable_cores():
    cores = len(os.sched_getaffinity(0))
    assert local_parallelism({}) == (f"local[{cores}]", 32)
    assert local_parallelism({"SPARK_GRAFT_CPUS": ""}) == (f"local[{cores}]", 32)


def test_local_parallelism_follows_spark_graft_cpus():
    assert local_parallelism({"SPARK_GRAFT_CPUS": "6"}) == ("local[6]", 6)
    assert local_parallelism({"SPARK_GRAFT_CPUS": "*"}) == ("local[*]", 32)


def test_session_jvm_runs_the_driver_java_options(spark):
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(mx.getInputArguments())
    assert "-XX:CICompilerCount=2" in DRIVER_JAVA_OPTIONS
    assert set(DRIVER_JAVA_OPTIONS) <= set(args)
