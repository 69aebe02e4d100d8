"""Tests for JDBC upsert SQL generation and Kafka frame shaping."""

from __future__ import annotations

import json
import os

from pipe_s_spark.sinks import build_upsert_statements, jdbc_upsert_writer, kafka_sink_frame
from pipe_s_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_upsert_sql_generation_mysql():
    rows = [
        {"net_op": "insert", "pk": 1, "k": 10, "v": "a'b"},
        {"net_op": "insert", "pk": 2, "k": 20, "v": None},
        {"net_op": "update", "pk": 3, "k": 30, "v": "c"},
        {"net_op": "delete", "pk": 4, "k": None, "v": None},
    ]
    s = build_upsert_statements("sbtest1", ["pk"], ["k", "v"], rows)
    assert len(s.inserts) == 1 and s.inserts[0].startswith("INSERT IGNORE INTO `sbtest1`")
    assert "(1, 10, 'a''b')" in s.inserts[0] and "(2, 20, NULL)" in s.inserts[0]
    assert s.updates[0].startswith("BEGIN;") and "UPDATE `sbtest1` SET `k` = 30" in s.updates[0]
    assert s.deletes == ["DELETE FROM `sbtest1` WHERE (`pk`) IN ((4));"]


def test_upsert_sql_batching_and_ansi_dialect():
    rows = [{"net_op": "insert", "pk": i, "k": i} for i in range(2500)]
    s = build_upsert_statements("t", ["pk"], ["k"], rows, max_rows_per_stmt=1000)
    assert len(s.inserts) == 3  # 1000 + 1000 + 500
    s2 = build_upsert_statements("t", ["pk"], ["k"], rows[:5], dialect="ansi")
    assert 'ON CONFLICT ("pk") DO NOTHING' in s2.inserts[0]
    assert s2.inserts[0].startswith('INSERT INTO "t" ("pk", "k")')


def test_jdbc_writer_routes_and_executes(spark, tmp_path):
    from pipe_s_spark.model import changelog_from_events
    from pipe_s_spark.operators import compact_changelog

    sink_log = str(tmp_path / "sql_log")
    os.makedirs(sink_log)

    def execute(sql: str) -> None:  # test stand-in for a DB cursor
        import uuid

        with open(os.path.join(sink_log, f"{uuid.uuid4().hex}.sql"), "w") as f:
            f.write(sql)

    cl = changelog_from_events(load_table(spark, SF, "events"))
    compacted = compact_changelog(cl, key_cols=("table_name", "pk"), payload_cols=("k", "value"))
    writer = jdbc_upsert_writer("sbtest", ["table_name", "pk"], ["k", "value"], execute, 4)
    writer(compacted)
    stmts = []
    for fn in os.listdir(sink_log):
        stmts.append(open(os.path.join(sink_log, fn)).read())
    assert any(s.startswith("INSERT IGNORE") for s in stmts)
    assert any(s.startswith("DELETE FROM") for s in stmts)
    assert stmts, "upsert writer must emit SQL"


def test_kafka_frame_shape(spark):
    cl = spark.createDataFrame(
        [("sbtest1", 1, 5, "x" * 10), ("sbtest2", 2, 6, "y" * 2000)],
        "table_name string, pk long, k int, payload string",
    )
    shaped = kafka_sink_frame(
        cl, value_cols=["table_name", "pk", "k", "payload"], key_col="pk", topic="t_out",
        max_value_bytes=1000,
    )
    rows = shaped.collect()
    assert shaped.columns == ["key", "value", "topic"]
    assert len(rows) == 1  # oversize message skipped
    v = json.loads(rows[0].value)
    assert v["table_name"] == "sbtest1" and rows[0].key == "1" and rows[0].topic == "t_out"


def test_kafka_frame_null_key_roundrobin(spark):
    df = spark.createDataFrame([(1,)], "a long")
    rows = kafka_sink_frame(df).collect()
    assert rows[0].key is None  # null key -> round-robin partitioner


def test_upsert_param_batches_templates_and_params():
    from pipe_s_spark.sinks.jdbc_upsert import build_upsert_param_batches

    rows = [
        {"net_op": "insert", "table_name": "t", "pk": 1, "k": 10, "value": "a'b"},
        {"net_op": "insert", "table_name": "t", "pk": 2, "k": 20, "value": None},
        {"net_op": "update", "table_name": "t", "pk": 3, "k": 30, "value": "x"},
        {"net_op": "delete", "table_name": "t", "pk": 4, "k": 0, "value": None},
    ]
    batches = build_upsert_param_batches("sbtest", ["table_name", "pk"], ["k", "value"], rows)
    by_sql = {sql: params for sql, params in batches}
    ins = "INSERT IGNORE INTO `sbtest` (`table_name`, `pk`, `k`, `value`) VALUES (%s, %s, %s, %s)"
    upd = "UPDATE `sbtest` SET `k` = %s, `value` = %s WHERE `table_name` = %s AND `pk` = %s"
    dele = "DELETE FROM `sbtest` WHERE `table_name` = %s AND `pk` = %s"
    # values pass through VERBATIM (no escaping — binding is server-side)
    assert by_sql[ins] == [("t", 1, 10, "a'b"), ("t", 2, 20, None)]
    assert by_sql[upd] == [(30, "x", "t", 3)]
    assert by_sql[dele] == [("t", 4)]


def test_upsert_param_batches_chunking_and_ansi():
    from pipe_s_spark.sinks.jdbc_upsert import build_upsert_param_batches

    rows = [
        {"net_op": "insert", "pk": i, "v": i} for i in range(5)
    ]
    batches = build_upsert_param_batches(
        "t", ["pk"], ["v"], rows, max_rows_per_batch=2, dialect="ansi", placeholder="?"
    )
    assert len(batches) == 3  # 2 + 2 + 1
    sql = batches[0][0]
    assert sql == 'INSERT INTO "t" ("pk", "v") VALUES (?, ?) ON CONFLICT ("pk") DO NOTHING'
    assert [len(p) for _, p in batches] == [2, 2, 1]


def test_jdbc_writer_executemany_path(spark, tmp_path):
    import json as _json

    from pipe_s_spark.model import changelog_from_events
    from pipe_s_spark.operators import compact_changelog

    sink_log = str(tmp_path / "param_log")
    os.makedirs(sink_log)

    def executemany(sql: str, params: list) -> None:
        import uuid

        with open(os.path.join(sink_log, f"{uuid.uuid4().hex}.json"), "w") as f:
            _json.dump({"sql": sql, "n": len(params)}, f)

    cl = changelog_from_events(load_table(spark, SF, "events"))
    compacted = compact_changelog(cl, key_cols=("table_name", "pk"), payload_cols=("k", "value"))
    writer = jdbc_upsert_writer(
        "sbtest", ["table_name", "pk"], ["k", "value"], executemany=executemany
    )
    writer(compacted)
    recs = [
        _json.load(open(os.path.join(sink_log, fn))) for fn in os.listdir(sink_log)
    ]
    assert any(r["sql"].startswith("INSERT IGNORE") and "%s" in r["sql"] for r in recs)
    assert any(r["sql"].startswith("DELETE FROM") for r in recs)
    assert all(r["n"] >= 1 for r in recs)


def test_jdbc_writer_requires_exactly_one_executor():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        jdbc_upsert_writer("t", ["pk"], ["v"])
    with _pytest.raises(ValueError, match="exactly one"):
        jdbc_upsert_writer("t", ["pk"], ["v"], execute=print, executemany=lambda s, p: None)
