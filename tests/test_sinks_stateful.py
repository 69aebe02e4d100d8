"""Tests for JDBC upsert SQL generation, Kafka frame shaping, and
stateful streaming operators."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

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


def _stream_changelog(spark, tmp_path):
    from pipe_s_spark.model import changelog_from_events
    from pipe_s_spark.streaming.merge_apply import FLAT_CHANGELOG_SCHEMA

    cl = changelog_from_events(load_table(spark, SF, "events")).orderBy("seq")
    d = tmp_path / "cl"
    d.mkdir()
    rows = [r.asDict() for r in cl.collect()]
    per = (len(rows) + 3) // 4
    for i in range(4):
        with open(d / f"p{i}.json", "w") as f:
            for r in rows[i * per : (i + 1) * per]:
                f.write(json.dumps(r) + "\n")
        # the file source takes files in modification-time order; files
        # written in the same millisecond tie, and the directory listing
        # then decides. One second apart, p0..p3 is the batch order.
        t = 1_700_000_000 + i
        os.utime(d / f"p{i}.json", (t, t))
    return spark.readStream.schema(FLAT_CHANGELOG_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).json(str(d))


def test_streaming_dedup_first_wins(spark, tmp_path):
    from pipe_s_spark.streaming.stateful import apply_streaming_dedup

    stream = _stream_changelog(spark, tmp_path).select("table_name", "pk", "seq", "op")
    deduped = apply_streaming_dedup(stream, ["table_name", "pk"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_out")
    n_keys = got.select("table_name", "pk").distinct().count()
    assert got.count() == n_keys, "exactly one row per key"
    # first-wins: emitted seq must be the min seq of its key within its batch order
    cl = spark.read.json(str(tmp_path / "cl"))
    mins = cl.groupBy("table_name", "pk").agg(F.min("seq").alias("min_seq"))
    joined = got.join(mins, ["table_name", "pk"]).filter(F.col("seq") != F.col("min_seq"))
    assert joined.count() == 0


def test_streaming_last_state(spark, tmp_path):
    from pipe_s_spark.streaming.stateful import apply_streaming_last_state

    stream = _stream_changelog(spark, tmp_path).select("table_name", "pk", "seq", "k")
    latest = apply_streaming_last_state(stream, ["table_name", "pk"])
    q = (
        latest.writeStream.format("memory")
        .queryName("last_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM last_out")
    # final emitted row per key must be the overall max-seq row
    from pyspark.sql.window import Window

    w = Window.partitionBy("table_name", "pk").orderBy(F.desc("seq"))
    final = got.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    cl = spark.read.json(str(tmp_path / "cl"))
    expect = (
        cl.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select("table_name", "pk", "seq", "k")
    )
    assert final.select("table_name", "pk", "seq", "k").exceptAll(expect).count() == 0
    assert expect.exceptAll(final.select("table_name", "pk", "seq", "k")).count() == 0


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
