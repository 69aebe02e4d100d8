"""Snapshot sources — the Spark counterpart of the reference's scan input.

The reference's ``MysqlScanInput`` (/root/reference/pkg/input/mysql/scan/
scaninput.go) discovers tables by regex and runs N concurrent keyset-
pagination scanners. In Spark the same capability is declarative:

- parquet/file scans are split into partitions by the data source
  (``spark.sql.files.maxPartitionBytes``), with column pruning and
  predicate pushdown planned by Catalyst — the scanner loop disappears;
- JDBC scans get the partitioned-parallel-read behavior from
  ``spark.read.jdbc(url, table, column=..., lowerBound=...,
  upperBound=..., numPartitions=...)`` directly (keyset pagination is
  strictly subsumed).

Timestamp normalization: the driver testdata stores ``events.ts`` as
INT64 TIMESTAMP(NANOS); Spark has no nanosecond timestamp so the session
reads it as raw long (``spark.sql.legacy.parquet.nanosAsLong``) and the
loader converts to a microsecond timestamp — the same truncation DuckDB
applies, keeping the oracle comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Every table the driver materializes at /root/testdata/sf*/.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Session-scoped DataFrame-HANDLE cache for load_table. Every
#: ``spark.read.parquet`` call runs a 1-task schema-inference job
#: (parquet footer read) plus file listing before the caller's query
#: even exists — profiled at 50-100 ms wall per call, and query
#: builders call load_table 1-3x per invocation. The cache returns the
#: SAME immutable DataFrame (an unresolved logical plan — zero rows of
#: data are held; every action on it still scans the parquet files in
#: full), which is exactly the metadata reuse ``spark.table()`` gets
#: from a catalog in production. Keyed by (applicationId, path, file
#: mtime+size) so a different session, a rewritten fixture file, or a
#: regenerated testdata dir all take the fresh-read path.
_TABLE_CACHE: dict[tuple, DataFrame] = {}
_TABLE_CACHE_MAX = 64


def _file_stamp(path: str) -> tuple:
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (None, None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing nano timestamps.

    SIDE EFFECT — this call mutates three SESSION-WIDE confs on the
    passed session (nanosAsLong, UTC timezone, ANSI off) and does not
    restore them: every later query on the session, not just this
    table, sees them. Deliberate: external harnesses build vanilla
    sessions and call only this entrypoint, so the confs MUST be set
    at read time (session.get_spark sets the same values, making this
    a no-op on our own sessions). Callers embedding this library in a
    session whose queries need ANSI-on / non-UTC must isolate with a
    separate SparkSession.
    """
    # Runtime-settable; must not depend on how the session was built —
    # external harnesses construct vanilla sessions. events.parquet is
    # INT64 TIMESTAMP(NANOS), which Spark rejects without nanosAsLong;
    # UTC + non-ANSI match the DuckDB-oracle semantics the suite is
    # verified under (Spark 4 defaults differ on both).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, path, *_file_stamp(path))
    df = _TABLE_CACHE.get(key)
    if df is None:
        if len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
            _TABLE_CACHE.clear()  # tiny keyspace; clear beats LRU bookkeeping
        df = _read_table(spark, path, name)
        _TABLE_CACHE[key] = df
    return df


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # integer `div`, not `/`: nanos epochs (~1.7e18) overflow a
        # double mantissa and float division would corrupt low digits
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all testdata tables as a dict (the engine's 'catalog')."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


