"""Oracle-checked query definitions for the CDC operator surface.

Each query has a Spark implementation ``(spark, sf_dir) -> DataFrame``
and a DuckDB-equivalent ANSI SQL string; the driver compares them at
sf0.01 (row count + schema + value hash). Column aliases are kept
identical on both sides by construction.

The change stream itself is derived deterministically from the driver's
``events`` table (see model.changelog_from_events / model.CHANGELOG_SQL)
so the whole CDC surface is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipe_s_spark.model import CHANGELOG_SQL, changelog_from_events
from pipe_s_spark.operators import (
    catch_table_name,
    check_consistency,
    column_value,
    compact_changelog,
    filter_dml,
    map_actions,
    map_names,
    marshal_json,
    merge_apply,
    unmarshal_json,
    value_map,
)
from pipe_s_spark.sources import load_table


def changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog_from_events(load_table(spark, sf_dir, "events"))


def changelog_fanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog with a (table_name, pk)-keyed scale-gated fan-out
    (r15): the heavy CDC shapes (compaction groupBy, SCD2/validate
    windows, merge anti-join) all cluster on (table_name, pk) or a
    superset, so hash partitioning on this subset satisfies their
    required distribution — the introduced exchange REPLACES the one
    the aggregate/window would have planned, it does not precede it —
    while moving the min_by/max_by/window work off the single-row-group
    scan task (profiled 520-683 ms serial CPU per query). No-op at
    cluster scale (sizing.fan_out); the narrow trivial CDC queries
    (filter/map/convert) stay on the plain changelog, where adding any
    exchange would only cost.

    The fan-out keys (table_name, pk) are computed from user_id BEFORE
    the exchange, but the expensive projection — the JSON payload parse
    — happens AFTER it: projects don't push below an exchange, so only
    raw columns cross the wire and the parse runs at session
    parallelism instead of inside the 1-task scan (re-profiled: fanning
    the finished changelog left 757 ms of serial map-side CPU, nearly
    all JSON parse). Column values are byte-identical to
    model.changelog_from_events."""
    from pipe_s_spark.sizing import fan_out

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "props",
        "value",
        "ts",
        F.concat(
            F.lit("sbtest"), ((F.col("user_id") % 4) + 1).cast("string")
        ).alias("table_name"),
        F.col("user_id").cast("long").alias("pk"),
    )
    ev = fan_out(ev, by=["table_name", "pk"])
    op = (
        F.when(F.col("event_type") == "signup", F.lit("insert"))
        .when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return ev.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("event_id").cast("long").alias("seq"),
        F.lit("app").alias("db"),
        "table_name",
        op.alias("op"),
        "pk",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
        F.col("value").cast("double").alias("value"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )


def _with_changelog(sql: str) -> str:
    return f"WITH changelog AS ({CHANGELOG_SQL})\n{sql}"


# --- per-operator queries ------------------------------------------------


def q_cdc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MysqlDMLFilter parity: table regex + op set."""
    return (
        changelog(spark, sf_dir)
        .transform(filter_dml(r"^sbtest[12]$", ["insert", "update"]))
        .select("seq", "table_name", "op", "pk")
    )


SQL_CDC_FILTER = _with_changelog(
    """
SELECT seq, table_name, op, pk
FROM changelog
WHERE regexp_matches(table_name, '^sbtest[12]$')
  AND op IN ('insert', 'update')
"""
)


def q_cdc_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converter parity: JSON payload -> typed column via from_json."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("event_id"),
        F.from_json(F.col("props"), "k INT")["k"].alias("k"),
    )


SQL_CDC_CONVERT = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""


def q_cdc_map_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBChangeMappingProcessor parity: db/table/column renames."""
    return (
        changelog(spark, sf_dir)
        .transform(
            map_names(
                db_map={"app": "app_dw"},
                table_map={"sbtest1": "sbtest1_v2"},
                column_map={"k": "kk"},
            )
        )
        .select("seq", "db", "table_name", "kk")
    )


SQL_CDC_MAP_NAMES = _with_changelog(
    """
SELECT seq,
       CASE db WHEN 'app' THEN 'app_dw' ELSE db END                      AS db,
       CASE table_name WHEN 'sbtest1' THEN 'sbtest1_v2' ELSE table_name END AS table_name,
       k                                                                 AS kk
FROM changelog
"""
)


def q_cdc_map_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Action remap (delete->insert); struct row-swap covered in unit tests."""
    return (
        changelog(spark, sf_dir)
        .transform(map_actions({"delete": "insert"}))
        .select("seq", "op", "pk")
    )


SQL_CDC_MAP_ACTIONS = _with_changelog(
    """
SELECT seq,
       CASE op WHEN 'delete' THEN 'insert' ELSE op END AS op,
       pk
FROM changelog
"""
)


def q_cdc_catch_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBTableNameCatcher parity: sharded name -> logical name."""
    return (
        changelog(spark, sf_dir)
        .transform(catch_table_name(r"^(sbtest)\d+$"))
        .select("seq", "table_name", "logical_table")
    )


SQL_CDC_CATCH_NAMES = _with_changelog(
    """
SELECT seq, table_name,
       regexp_extract(table_name, '^(sbtest)[0-9]+$', 1) AS logical_table
FROM changelog
"""
)


def q_cdc_column_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColumnValueProcessor parity: lift the partition key."""
    return (
        changelog(spark, sf_dir)
        .transform(column_value(F.col("pk").cast("string"), "partition_key"))
        .select("seq", "partition_key")
    )


SQL_CDC_COLUMN_VALUE = _with_changelog(
    """
SELECT seq, CAST(pk AS VARCHAR) AS partition_key
FROM changelog
"""
)


def q_cdc_value_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ValueMapper parity: logical table -> kafka topic."""
    return (
        changelog(spark, sf_dir)
        .transform(catch_table_name(r"^(sbtest)\d+$"))
        .transform(value_map({"sbtest": "topic_sbtest"}, "logical_table", "topic", "topic_default"))
        .select("seq", "topic")
    )


SQL_CDC_VALUE_MAP = _with_changelog(
    """
SELECT seq,
       CASE regexp_extract(table_name, '^(sbtest)[0-9]+$', 1)
           WHEN 'sbtest' THEN 'topic_sbtest'
           ELSE 'topic_default'
       END AS topic
FROM changelog
"""
)


def q_cdc_marshal_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JsonMarshaller + DBChangeUnmarshaller parity: to_json -> from_json
    roundtrip must be the identity on the payload.

    r15: fan_out — the to_json/from_json codec pair ran pipelined into
    the single scan task (profiled 0.62 s serial); the narrow exchange
    spreads it across cores, no-op at cluster scale (sizing.fan_out)."""
    from pipe_s_spark.sizing import fan_out

    return (
        fan_out(changelog(spark, sf_dir), by=["seq"])
        .transform(marshal_json(["seq", "op", "pk", "k", "value"], "wire"))
        .select("wire")
        .transform(unmarshal_json("seq BIGINT, op STRING, pk BIGINT, k INT, value DOUBLE", "wire"))
        .select("seq", "op", "pk", "k", "value")
    )


SQL_CDC_MARSHAL_ROUNDTRIP = _with_changelog(
    """
SELECT seq, op, pk, k, value FROM changelog
"""
)


SQL_COMPACTED = """
compacted_raw AS (
    SELECT db, table_name, pk,
           arg_min(op, seq)    AS first_op,
           arg_max(op, seq)    AS last_op,
           max(seq)            AS last_seq,
           arg_max(k, seq)     AS k,
           arg_max(value, seq) AS value,
           arg_max(ts_ms, seq) AS ts_ms
    FROM changelog
    GROUP BY db, table_name, pk
),
compacted_all AS (
    SELECT db, table_name, pk,
           CASE
               WHEN first_op = 'insert' AND last_op = 'delete' THEN NULL
               WHEN first_op = 'insert' THEN 'insert'
               WHEN last_op = 'delete' THEN 'delete'
               ELSE 'update'
           END AS net_op,
           last_seq, k, value, ts_ms
    FROM compacted_raw
),
compacted AS (
    SELECT * FROM compacted_all WHERE net_op IS NOT NULL
)"""


def q_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: changelog compaction to net effect per key (§2.7)."""
    return compact_changelog(changelog_fanned(spark, sf_dir)).select(
        "db", "table_name", "pk", "net_op", "last_seq", "k", "value", "ts_ms"
    )


SQL_CDC_COMPACT = (
    f"WITH changelog AS ({CHANGELOG_SQL}),\n{SQL_COMPACTED}\n"
    "SELECT db, table_name, pk, net_op, last_seq, k, value, ts_ms FROM compacted"
)


def q_cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship step 2: apply the compacted changelog to a base snapshot
    (deterministically derived: every even pk pre-exists with zeros)."""
    cl = changelog_fanned(spark, sf_dir)
    base = (
        cl.filter(F.col("pk") % 2 == 0)
        .select("table_name", "pk")
        .distinct()
        .withColumn("k", F.lit(0).cast("int"))
        .withColumn("value", F.lit(0.0))
    )
    compacted = compact_changelog(cl).drop("db")
    return merge_apply(base, compacted, ("table_name", "pk"), ("k", "value")).select(
        "table_name", "pk", "k", "value"
    )


SQL_CDC_MERGE_APPLY = (
    f"WITH changelog AS ({CHANGELOG_SQL}),\n{SQL_COMPACTED},\n"
    """
base AS (
    SELECT DISTINCT table_name, pk,
           CAST(0 AS INTEGER) AS k, CAST(0.0 AS DOUBLE) AS value
    FROM changelog WHERE pk % 2 = 0
)
SELECT b.table_name, b.pk, b.k, b.value
FROM base b
WHERE NOT EXISTS (
    SELECT 1 FROM compacted c
    WHERE c.table_name = b.table_name AND c.pk = b.pk
)
UNION ALL
SELECT table_name, pk, k, value FROM compacted WHERE net_op <> 'delete'
"""
)


def q_cdc_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MysqlCheckOutput parity: diff a deterministically-corrupted copy
    of orders against the source (row_miss + row_diff)."""
    # r15: fan_out tried and REVERTED by interleaved A/B (0.640 vs
    # 0.523 median): the diff legs plan as broadcast joins that shuffle
    # nothing, so the keyed exchanges (not reused — per-leg column
    # pruning differs) were pure overhead.
    orders = load_table(spark, sf_dir, "orders")
    tgt = orders.filter(~(F.col("o_orderkey") % 97 == 0)).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    return check_consistency(
        orders, tgt, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    ).select("o_orderkey", "diff_type")


SQL_CDC_CHECK = """
WITH tgt AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey % 97 <> 0
)
SELECT o.o_orderkey, 'row_miss' AS diff_type
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.o_orderkey = o.o_orderkey)
UNION ALL
SELECT o.o_orderkey, 'row_diff' AS diff_type
FROM orders o JOIN tgt t USING (o_orderkey)
WHERE t.o_totalprice IS DISTINCT FROM o.o_totalprice
   OR t.o_orderstatus IS DISTINCT FROM o.o_orderstatus
"""


def q_cdc_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog state-machine audit: every transition the reference
    hard-errors on (update-after-delete, batchmessage.go:49-52) or that
    breaks the implicit inDB contract, as a data-quality report."""
    from pipe_s_spark.operators.compaction import validate_changelog

    return validate_changelog(
        changelog_fanned(spark, sf_dir), key_cols=("table_name", "pk")
    ).select("table_name", "pk", "seq", "op", "violation")


SQL_CDC_VALIDATE = _with_changelog(
    """
SELECT table_name, pk, seq, op, violation FROM (
    SELECT table_name, pk, seq, op,
           CASE WHEN prev = 'delete' AND op = 'update' THEN 'update_after_delete'
                WHEN prev = 'delete' AND op = 'delete' THEN 'double_delete'
                WHEN prev IS NULL AND op <> 'insert' THEN 'first_op_not_insert'
                WHEN prev IS NOT NULL AND prev <> 'delete' AND op = 'insert' THEN 'insert_on_present'
           END AS violation
    FROM (
        SELECT table_name, pk, seq, op,
               LAG(op) OVER (PARTITION BY table_name, pk ORDER BY seq) AS prev
        FROM changelog
    )
) WHERE violation IS NOT NULL
"""
)


def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from the change stream: one row per
    key version with [valid_from, valid_to) event-time bounds."""
    from pipe_s_spark.operators.history import scd2_history

    return scd2_history(changelog_fanned(spark, sf_dir))


SQL_CDC_SCD2 = _with_changelog(
    """
, v AS (
    SELECT table_name, pk, k, value, op, seq, ts_ms AS valid_from,
           LEAD(ts_ms) OVER (PARTITION BY table_name, pk ORDER BY seq) AS valid_to
    FROM changelog
)
SELECT table_name, pk, k, value, valid_from, valid_to,
       CAST(ROW_NUMBER() OVER (PARTITION BY table_name, pk ORDER BY seq) AS BIGINT)
           AS version,
       valid_to IS NULL AS is_current
FROM v WHERE op <> 'delete'
"""
)


def q_cdc_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction: live state at the midpoint of the
    stream (cutoff = max(seq) div 2, computed in-plan and broadcast)."""
    from pipe_s_spark.operators.history import snapshot_asof

    log = changelog_fanned(spark, sf_dir)
    cutoff = log.agg(F.expr("MAX(seq) DIV 2").alias("cutoff"))
    return snapshot_asof(log, cutoff)


SQL_CDC_SNAPSHOT_ASOF = _with_changelog(
    """
, pruned AS (
    SELECT * FROM changelog
    WHERE seq <= (SELECT MAX(seq) // 2 FROM changelog)
),
ranked AS (
    SELECT table_name, pk, k, value, op, seq,
           ROW_NUMBER() OVER (PARTITION BY table_name, pk ORDER BY seq DESC) AS rn
    FROM pruned
)
SELECT table_name, pk, k, value, seq AS as_of_seq
FROM ranked WHERE rn = 1 AND op <> 'delete'
"""
)


def q_cdc_lag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table pipeline health: op mix, high-water mark, and replica
    lag vs the stream head — the batch analog of the reference's
    TaskMetrics qps/delay gauges (metrics.go:16-23,86-101). One
    map-side-combinable groupBy; the stream head is a broadcast scalar."""
    log = changelog(spark, sf_dir)
    head = log.agg(F.max("ts_ms").alias("head_ts_ms"))
    per = log.groupBy("table_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("op") == "insert", 1).otherwise(0)).alias("n_inserts"),
        F.sum(F.when(F.col("op") == "update", 1).otherwise(0)).alias("n_updates"),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_deletes"),
        F.max("seq").alias("high_seq"),
        F.max("ts_ms").alias("high_ts_ms"),
    )
    return per.join(F.broadcast(head)).select(
        "table_name",
        "n_events",
        "n_inserts",
        "n_updates",
        "n_deletes",
        "high_seq",
        (F.col("head_ts_ms") - F.col("high_ts_ms")).alias("lag_ms"),
    )


SQL_CDC_LAG_METRICS = _with_changelog(
    """
SELECT table_name,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN op = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
       CAST(SUM(CASE WHEN op = 'update' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
       CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
       MAX(seq) AS high_seq,
       (SELECT MAX(ts_ms) FROM changelog) - MAX(ts_ms) AS lag_ms
FROM changelog
GROUP BY table_name
"""
)


#: In-band DDL log for the schema-evolution query: (version,
#: active_from_seq). Version 2 ALTERs sbtest1 to add the `value`
#: column mid-stream. Inlined as expressions (the DDL log is O(ALTERs)
#: — control metadata, exactly what operators.converter.apply_ddl_events
#: collects driver-side and applies in seq order).
SCHEMA_EVOLUTION_V2_FROM_SEQ = 2000


def q_cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-ERA application — the declarative form of the reference's
    DDL invalidate-then-refetch (simple.go:72-166, binloginput.go:
    477-502, mirrored imperatively by operators.converter
    .apply_ddl_events): each DML row of sbtest1 parses its payload
    under the schema ACTIVE AT ITS seq. Era v1 = {k}; the in-band
    ALTER at seq SCHEMA_EVOLUTION_V2_FROM_SEQ widens to {k, value}, so
    pre-ALTER rows surface `value` as NULL (the column did not exist in
    their era). Era assignment is a narrow expression (at scale: a
    broadcast range join against the tiny DDL log); nothing here
    shuffles."""
    cl = changelog(spark, sf_dir).filter(F.col("table_name") == "sbtest1")
    v2 = F.col("seq") >= SCHEMA_EVOLUTION_V2_FROM_SEQ
    return cl.select(
        "seq",
        "pk",
        F.when(v2, F.lit(2)).otherwise(F.lit(1)).alias("schema_version"),
        "k",
        F.when(v2, F.col("value")).alias("value"),
    )


SQL_CDC_SCHEMA_EVOLUTION = _with_changelog(
    f"""
SELECT seq, pk,
       CASE WHEN seq >= {SCHEMA_EVOLUTION_V2_FROM_SEQ} THEN 2 ELSE 1 END AS schema_version,
       k,
       CASE WHEN seq >= {SCHEMA_EVOLUTION_V2_FROM_SEQ} THEN value END AS value
FROM changelog
WHERE table_name = 'sbtest1'
"""
)


def q_cdc_op_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily operation-mix trend per replicated table: insert/update/
    delete counts and the delete share in micro-units — the time-series
    view of cdc_lag_metrics' aggregate op mix (a delete-share spike on
    one day is how a bad upstream migration shows up first). One
    map-side-combinable aggregate over (table, day)."""
    cl = changelog(spark, sf_dir)
    day = F.to_date(F.timestamp_millis(F.col("ts_ms")))
    return cl.groupBy("table_name", day.alias("d")).agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.sum((F.col("op") == "insert").cast("bigint")).alias("n_insert"),
        F.sum((F.col("op") == "update").cast("bigint")).alias("n_update"),
        F.sum((F.col("op") == "delete").cast("bigint")).alias("n_delete"),
        F.expr(
            "CAST(SUM(CAST(op = 'delete' AS BIGINT)) * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("delete_x1m"),
    )


SQL_CDC_OP_TREND = _with_changelog(
    """
SELECT table_name,
       CAST(epoch_ms(ts_ms) AS DATE) AS d,
       COUNT(*) AS n_ops,
       CAST(SUM(CASE WHEN op = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
       CAST(SUM(CASE WHEN op = 'update' THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
       CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
       CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS delete_x1m
FROM changelog
GROUP BY table_name, d
"""
)


QUERIES = {
    q_cdc_filter: SQL_CDC_FILTER,
    q_cdc_schema_evolution: SQL_CDC_SCHEMA_EVOLUTION,
    q_cdc_op_trend: SQL_CDC_OP_TREND,
    q_cdc_validate: SQL_CDC_VALIDATE,
    q_cdc_convert: SQL_CDC_CONVERT,
    q_cdc_map_names: SQL_CDC_MAP_NAMES,
    q_cdc_map_actions: SQL_CDC_MAP_ACTIONS,
    q_cdc_catch_names: SQL_CDC_CATCH_NAMES,
    q_cdc_column_value: SQL_CDC_COLUMN_VALUE,
    q_cdc_value_map: SQL_CDC_VALUE_MAP,
    q_cdc_marshal_roundtrip: SQL_CDC_MARSHAL_ROUNDTRIP,
    q_cdc_compact: SQL_CDC_COMPACT,
    q_cdc_merge_apply: SQL_CDC_MERGE_APPLY,
    q_cdc_check: SQL_CDC_CHECK,
    q_cdc_scd2: SQL_CDC_SCD2,
    q_cdc_snapshot_asof: SQL_CDC_SNAPSHOT_ASOF,
    q_cdc_lag_metrics: SQL_CDC_LAG_METRICS,
}
