"""Canonical change-event data model (the system IR).

The reference's universal record is ``DBChangeEvent``
(/root/reference/pkg/core/message.go:172-182): ``{ID, Database, Table,
DBTime, EventTime, Operation insert|update|delete, OldRow, NewRow,
ExtraInfo}``. Here it is a Spark row; heterogeneous multi-table streams
keep payloads as JSON strings and apply per-table schemas after fan-out
(mirroring the reference's late schema-zip in the Converter,
pkg/processor/converter/dml_to_dbchange.go:65-74).

``changelog_from_events`` derives a deterministic CDC stream from the
driver's ``events`` table so every CDC operator is oracle-checkable:
the identical derivation is written once as ANSI SQL
(``CHANGELOG_SQL``) for the DuckDB oracle. Semantics of the mapping:

- ``seq``       = event_id            (monotonic offset / ring sequence)
- ``op``        = signup->insert, error->delete, else update
- ``db``        = 'app'
- ``table_name``= 'sbtest' || (user_id % 4 + 1)   (sharding pattern,
                  cf. DBTableNameCatcher, pkg/processor/value/dbtablename.go)
- ``pk``        = user_id             (the merge/upsert key)
- payload       = k (parsed from props JSON), value
- ``ts_ms``     = event timestamp in epoch millis

Payload columns are kept flat (not structs) so cross-engine value
hashing is robust.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Envelope for heterogeneous multi-table streams: payloads stay JSON
#: strings until per-table fan-out applies a concrete schema.
CHANGE_EVENT_JSON_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("db", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("db_time", T.LongType(), True),
        T.StructField("event_time", T.LongType(), True),
        T.StructField("op", T.StringType(), False),
        T.StructField("old_row", T.StringType(), True),
        T.StructField("new_row", T.StringType(), True),
        T.StructField("extra", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def changelog_from_events(events: DataFrame) -> DataFrame:
    """Deterministic CDC stream derived from the ``events`` table.

    Pure narrow transforms (no shuffle); Catalyst pushes the column
    pruning into the parquet scan.
    """
    op = (
        F.when(F.col("event_type") == "signup", F.lit("insert"))
        .when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return events.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("event_id").cast("long").alias("seq"),
        F.lit("app").alias("db"),
        F.concat(F.lit("sbtest"), ((F.col("user_id") % 4) + 1).cast("string")).alias(
            "table_name"
        ),
        op.alias("op"),
        F.col("user_id").cast("long").alias("pk"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
        F.col("value").cast("double").alias("value"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )


#: The identical derivation as an ANSI-SQL CTE body for the DuckDB
#: oracle. Use as: f"WITH changelog AS ({CHANGELOG_SQL}) SELECT ..."
CHANGELOG_SQL = """
SELECT
    CAST(event_id AS VARCHAR)                          AS id,
    CAST(event_id AS BIGINT)                           AS seq,
    'app'                                              AS db,
    'sbtest' || CAST((user_id % 4) + 1 AS VARCHAR)     AS table_name,
    CASE event_type
        WHEN 'signup' THEN 'insert'
        WHEN 'error'  THEN 'delete'
        ELSE 'update'
    END                                                AS op,
    CAST(user_id AS BIGINT)                            AS pk,
    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
    CAST(value AS DOUBLE)                              AS value,
    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)    AS ts_ms
FROM events
"""
