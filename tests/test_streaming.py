"""Streaming merge-apply integrity test — the Spark restatement of the
reference's randomized kill-and-restart data-integrity loop
(integration_test/dbsync/data_integrity_test_linux.sh): stream a
changelog in small triggers, stop the query mid-stream, restart from
the checkpoint, then diff the final target against the single-shot
batch answer. Golden result: empty diff."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from pipe_s_spark.model import changelog_from_events
from pipe_s_spark.operators import check_consistency, compact_changelog, merge_apply
from pipe_s_spark.sources import load_table
from pipe_s_spark.streaming import (
    MergeApplyTarget,
    run_merge_apply_stream,
    stream_changelog_json,
)

SF = "/root/testdata/sf0.001"


def _well_formed(rows):
    """Enforce the CDC state machine (insert only when absent,
    update/delete only when present) — the invariant real binlog
    streams satisfy and the reference's inDB inference relies on
    (batchmessage.go:25-57). Ill-formed synthetic ops are remapped."""
    exists: set = set()
    out = []
    for r in sorted(rows, key=lambda r: r["seq"]):
        key = (r["table_name"], r["pk"])
        if key not in exists:
            r = {**r, "op": "insert"}
            exists.add(key)
        elif r["op"] == "insert":
            r = {**r, "op": "update"}
        if r["op"] == "delete":
            exists.discard(key)
        out.append(r)
    return out


@pytest.fixture()
def changelog_files(spark, tmp_path) -> str:
    """Split the (sanitized) deterministic changelog into 8 JSON files
    (the 'binlog segments' of the simulation)."""
    cl = changelog_from_events(load_table(spark, SF, "events")).orderBy("seq")
    rows = _well_formed([r.asDict() for r in cl.collect()])
    d = tmp_path / "changelog"
    d.mkdir()
    n = 8
    per = (len(rows) + n - 1) // n
    base = 1_600_000_000  # strictly increasing mtimes: the file source
    for i in range(n):  # orders by mod time, and segments must arrive
        p = d / f"part-{i:03d}.json"  # in binlog order (ties break
        with open(p, "w") as f:  # arbitrarily and reorder applies)
            for r in rows[i * per : (i + 1) * per]:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (base + i, base + i))
    return str(d)


def expected_final_state(spark, changelog_dir: str):
    from pipe_s_spark.streaming.merge_apply import FLAT_CHANGELOG_SCHEMA

    cl = spark.read.schema(FLAT_CHANGELOG_SCHEMA).json(changelog_dir)
    compacted = compact_changelog(cl, key_cols=("table_name", "pk"), payload_cols=("k", "value"))
    empty = compacted.filter(F.lit(False)).select("table_name", "pk", "k", "value")
    return merge_apply(empty, compacted, ("table_name", "pk"), ("k", "value"))


def test_stream_apply_with_restart_matches_batch(spark, changelog_files, tmp_path):
    target = MergeApplyTarget(str(tmp_path / "target"))
    ckpt = str(tmp_path / "ckpt")

    # phase 1: process a few triggers, then "crash" (stop the query)
    changes = stream_changelog_json(spark, changelog_files, max_files_per_trigger=1)
    q = run_merge_apply_stream(changes, target, ckpt, available_now=False)
    import time

    deadline = time.time() + 60
    while len(q.recentProgress) < 3 and time.time() < deadline:
        time.sleep(0.2)  # let ~3 micro-batches commit, then "crash"
    q.stop()
    q.awaitTermination(30)
    assert os.path.isdir(target.path), "target should exist after first phase"

    # phase 2: restart from checkpoint, drain the rest
    changes2 = stream_changelog_json(spark, changelog_files, max_files_per_trigger=1)
    q2 = run_merge_apply_stream(changes2, target, ckpt, available_now=True)
    q2.awaitTermination(120)

    # golden check: target == single-shot batch compaction+apply
    got = spark.read.parquet(target.path)
    want = expected_final_state(spark, changelog_files)
    diff = check_consistency(want, got, ["table_name", "pk"], ["k", "value"])
    rev = check_consistency(got, want, ["table_name", "pk"], ["k", "value"])
    assert diff.count() == 0 and rev.count() == 0, (
        f"integrity diff: {diff.collect()[:5]} / {rev.collect()[:5]}"
    )


def _mk_changes(spark, rows):
    from pipe_s_spark.streaming.merge_apply import FLAT_CHANGELOG_SCHEMA

    data = [
        {"id": f"e{seq}", "seq": seq, "db": "d", "table_name": t, "op": op,
         "pk": pk, "k": k, "value": v, "ts_ms": seq}
        for seq, t, op, pk, k, v in rows
    ]
    return spark.createDataFrame(data, FLAT_CHANGELOG_SCHEMA)


def _snapshot_files(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_merge_target_rewrites_only_touched_buckets(spark, tmp_path):
    """Epoch N+1 must leave bucket dirs it didn't touch byte-identical
    (the partitioned-target contract: O(touched), not O(table))."""
    t = MergeApplyTarget(str(tmp_path / "t"), num_buckets=4)
    t.apply_batch(
        _mk_changes(spark, [(i, "t1", "insert", i, 1, float(i)) for i in range(20)]), 0
    )
    # find the bucket of pk=0 so the second batch touches exactly it
    from pyspark.sql import functions as F

    b0 = (
        _mk_changes(spark, [(100, "t1", "update", 0, 1, 99.0)])
        .select(F.pmod(F.hash("table_name", "pk"), F.lit(4)).alias("b"))
        .collect()[0]["b"]
    )
    def untouched(files):
        return {
            k: v
            for k, v in files.items()
            if k.startswith("bucket=") and not k.startswith(f"bucket={b0}/")
        }

    before = untouched(_snapshot_files(t.path))
    t.apply_batch(_mk_changes(spark, [(100, "t1", "update", 0, 1, 99.0)]), 1)
    after = untouched(_snapshot_files(t.path))
    assert before == after, "untouched bucket files changed across epoch"
    got = {(r["pk"]): r["value"] for r in t.read_current(spark).collect()}
    assert got[0] == 99.0 and got[5] == 5.0 and len(got) == 20


def test_merge_target_all_annihilated_epoch_commits(spark, tmp_path):
    """An epoch whose every key annihilates (insert then delete inside
    the batch) still touches the buckets its raw events route to: it
    commits them unchanged and advances the fence, so a replay of it is
    a fence no-op."""
    t = MergeApplyTarget(str(tmp_path / "t"), num_buckets=4)
    assert t.apply_batch(
        _mk_changes(spark, [(i, "t1", "insert", i, 1, float(i)) for i in range(8)]), 0
    )
    before = t.read_current(spark).collect()
    gone = [(10 + i, "t1", "insert", 100 + i // 2, 1, 0.0) if i % 2 == 0
            else (10 + i, "t1", "delete", 100 + i // 2, 1, 0.0) for i in range(8)]
    assert t.apply_batch(_mk_changes(spark, gone), 1)
    with open(os.path.join(t.path, "._last_epoch")) as f:
        assert f.read().strip() == "1"
    assert sorted(t.read_current(spark).collect()) == sorted(before)
    assert not t.apply_batch(_mk_changes(spark, gone), 1)


def test_merge_target_reads_widened_schema(spark, tmp_path):
    """Epoch 1 stores ``k`` as int; epoch 2 widens it to bigint in some
    buckets only, leaving int files in the others. The writing instance
    reads with the schema it committed, and a fresh instance infers
    from the newest file: both must read back every row. Epoch 2 stays
    out of bucket 0, whose file Spark's own footer inference would pick
    (first by path), so an int schema would be inferred and the bigint
    files refused. A fresh instance must also keep merging."""

    def log(rows, ktype):
        return spark.createDataFrame(
            rows, f"seq long, table_name string, pk long, op string, k {ktype}, value double"
        )

    first = log([(i, "t", i, "insert", i, float(i)) for i in range(100)], "int")
    bucket = {
        r["pk"]: r["b"]
        for r in first.select("pk", F.pmod(F.hash("table_name", "pk"), F.lit(8)).alias("b"))
        .collect()
    }
    path = str(tmp_path / "t")
    writer = MergeApplyTarget(path, num_buckets=8)
    assert writer.apply_batch(first, 1)
    want = {i: (i, float(i)) for i in range(100)}
    wide = [pk for pk in range(100) if bucket[pk] != 0][:5]
    assert len({bucket[pk] for pk in wide}) > 1
    assert writer.apply_batch(
        log([(1000 + pk, "t", pk, "update", (1 << 40) + pk, -1.0) for pk in wide], "bigint"),
        2,
    )
    want.update({pk: ((1 << 40) + pk, -1.0) for pk in wide})

    def state(t):
        return {r["pk"]: (r["k"], r["value"]) for r in t.read_current(spark).collect()}

    assert state(writer) == want
    fresh = MergeApplyTarget(path, num_buckets=8)
    assert state(fresh) == want
    zero = [pk for pk in range(100) if bucket[pk] == 0][:3]
    assert fresh.apply_batch(
        log([(2000 + pk, "t", pk, "update", pk, 7.0) for pk in zero], "int"), 3
    )
    want.update({pk: (pk, 7.0) for pk in zero})
    assert state(fresh) == want
    assert state(MergeApplyTarget(path, num_buckets=8)) == want


def test_merge_target_keeps_stored_types_in_empty_buckets(spark, tmp_path):
    """Epoch 1 stores ``k`` as bigint and leaves bucket 3 without data.
    Epoch 2 sends ``k`` as int to bucket 3 only; epoch 4 does the same
    to bucket 5 after epoch 3 deleted every key it held (an empty
    directory). The touched buckets hold no files, yet the new files
    must keep the stored bigint type: the writer and a fresh instance
    both read every row back."""

    def log(rows, ktype):
        return spark.createDataFrame(
            rows, f"seq long, table_name string, pk long, op string, k {ktype}, value double"
        )

    bucket = {
        r["pk"]: r["b"]
        for r in spark.range(200)
        .select(F.col("id").alias("pk"), F.pmod(F.hash(F.lit("t"), "id"), F.lit(8)).alias("b"))
        .collect()
    }
    path = str(tmp_path / "t")
    writer = MergeApplyTarget(path, num_buckets=8)
    first = [pk for pk in range(100) if bucket[pk] != 3]
    assert writer.apply_batch(
        log([(pk, "t", pk, "insert", (1 << 40) + pk, 1.0) for pk in first], "bigint"), 1
    )
    want = {pk: ((1 << 40) + pk, 1.0) for pk in first}
    three = [pk for pk in range(100) if bucket[pk] == 3]
    assert three
    assert writer.apply_batch(log([(1000 + pk, "t", pk, "insert", pk, 2.0) for pk in three], "int"), 2)
    want.update({pk: (pk, 2.0) for pk in three})

    def state(t):
        return {r["pk"]: (r["k"], r["value"]) for r in t.read_current(spark).collect()}

    assert state(writer) == want
    assert state(MergeApplyTarget(path, num_buckets=8)) == want
    five = [pk for pk in first if bucket[pk] == 5]
    assert writer.apply_batch(
        log([(2000 + pk, "t", pk, "delete", None, None) for pk in five], "bigint"), 3
    )
    for pk in five:
        del want[pk]
    assert not glob.glob(os.path.join(path, "bucket=5", "*.parquet"))
    late = [pk for pk in range(100, 200) if bucket[pk] == 5]
    assert writer.apply_batch(log([(3000 + pk, "t", pk, "insert", pk, 3.0) for pk in late], "int"), 4)
    want.update({pk: (pk, 3.0) for pk in late})
    assert state(writer) == want
    assert state(MergeApplyTarget(path, num_buckets=8)) == want


def test_merge_target_lww_out_of_order_epochs(spark, tmp_path):
    """LWW mode converges regardless of epoch arrival order: a late
    batch of OLDER events must not clobber newer state, and a deleted
    key must not be resurrected by a pre-delete update."""
    t = MergeApplyTarget(str(tmp_path / "t"), num_buckets=2, lww=True)
    # epoch 0 carries the NEWER half of the changelog (seqs 100..):
    # pk=1 updated at seq 100; pk=2 deleted at seq 110; pk=3 inserted
    t.apply_batch(
        _mk_changes(
            spark,
            [
                (100, "t1", "update", 1, 1, 100.0),
                (110, "t1", "delete", 2, 1, 0.0),
                (120, "t1", "insert", 3, 1, 120.0),
            ],
        ),
        0,
    )
    # epoch 1 delivers OLDER events (seqs < 100) late: the original
    # inserts for pk=1/2 and an update for pk=2
    t.apply_batch(
        _mk_changes(
            spark,
            [
                (10, "t1", "insert", 1, 1, 10.0),
                (11, "t1", "insert", 2, 1, 11.0),
                (50, "t1", "update", 2, 1, 50.0),
            ],
        ),
        1,
    )
    got = {r["pk"]: r["value"] for r in t.read_current(spark).collect()}
    assert got == {1: 100.0, 3: 120.0}, got  # pk=2 stays deleted (tombstone)
    # exact replay of epoch-1 data in a fresh epoch is still a no-op
    t.apply_batch(
        _mk_changes(spark, [(50, "t1", "update", 2, 1, 50.0)]), 2
    )
    got = {r["pk"]: r["value"] for r in t.read_current(spark).collect()}
    assert got == {1: 100.0, 3: 120.0}, got


def test_lww_stream_converges_under_reversed_delivery(spark, tmp_path):
    """Adversarial delivery order: changelog segments arrive NEWEST
    FIRST (decreasing mtimes steer the file source), which corrupts a
    blind last-state merge — the LWW target must still converge to the
    seq-ordered batch answer."""
    cl = changelog_from_events(load_table(spark, SF, "events")).orderBy("seq")
    rows = _well_formed([r.asDict() for r in cl.collect()])
    d = tmp_path / "rev"
    d.mkdir()
    n = 8
    per = (len(rows) + n - 1) // n
    base = 1_600_000_000
    for i in range(n):
        p = d / f"part-{i:03d}.json"
        with open(p, "w") as f:
            for r in rows[i * per : (i + 1) * per]:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (base - i, base - i))  # decreasing: newest segment first

    target = MergeApplyTarget(str(tmp_path / "target"), lww=True)
    changes = stream_changelog_json(spark, str(d), max_files_per_trigger=1)
    q = run_merge_apply_stream(changes, target, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    want = expected_final_state(spark, str(d))
    got = target.read_current(spark)
    diff = check_consistency(want, got, ["table_name", "pk"], ["k", "value"])
    rev = check_consistency(got, want, ["table_name", "pk"], ["k", "value"])
    assert diff.count() == 0 and rev.count() == 0, (
        f"integrity diff under reversed delivery: {diff.collect()[:5]} / {rev.collect()[:5]}"
    )


def test_kafka_roundtrip_e2e_matches_batch(spark, tmp_path):
    """The reference's second e2e suite (integration_test/kafka/
    {db_kafka,kafka_db,db_check}.json): source changelog -> Kafka frame
    shaping -> topic -> frame decode -> merge-apply -> checker, golden
    result = empty diff. The 'topic' is a directory of JSON-value files
    (no broker in env) with NO cross-file ordering — exactly Kafka's
    cross-partition contract — so the target runs in LWW mode, which
    must converge regardless of delivery order."""
    from pipe_s_spark.operators import check_consistency
    from pipe_s_spark.sinks import kafka_sink_frame
    from pipe_s_spark.sources import decode_changelog_frame
    from pipe_s_spark.streaming.merge_apply import FLAT_CHANGELOG_SCHEMA

    cl = changelog_from_events(load_table(spark, SF, "events"))
    rows = _well_formed([r.asDict() for r in cl.orderBy("seq").collect()])
    cl = spark.createDataFrame(rows, FLAT_CHANGELOG_SCHEMA)

    # db -> kafka: shape wire frames, land values on the "topic"
    topic_dir = str(tmp_path / "topic")
    shaped = kafka_sink_frame(cl, key_col="pk", topic="cdc")
    assert shaped.columns == ["key", "value", "topic"]
    shaped.select("value").write.text(topic_dir)

    # kafka -> db: stream the topic, decode frames, LWW merge-apply
    target = MergeApplyTarget(str(tmp_path / "target"), lww=True)
    frames = spark.readStream.text(topic_dir)
    decoded = decode_changelog_frame(frames, schema=FLAT_CHANGELOG_SCHEMA)
    q = run_merge_apply_stream(decoded, target, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    # db_check: empty diff vs the single-shot batch answer
    compacted = compact_changelog(cl, key_cols=("table_name", "pk"), payload_cols=("k", "value"))
    empty = compacted.filter(F.lit(False)).select("table_name", "pk", "k", "value")
    want = merge_apply(empty, compacted, ("table_name", "pk"), ("k", "value"))
    got = target.read_current(spark)
    assert check_consistency(want, got, ["table_name", "pk"], ["k", "value"]).count() == 0
    assert check_consistency(got, want, ["table_name", "pk"], ["k", "value"]).count() == 0


def _as_event_time(raw_schema):
    """events.parquet's ts column has shipped as both INT64 nanos (older
    generators, read as long under nanosAsLong) and TIMESTAMP(MICROS)
    NTZ (current generator) — convert to a proper event-time timestamp
    either way, mirroring load_table's conditional."""
    from pyspark.sql import types as T

    if isinstance(raw_schema["ts"].dataType, T.LongType):
        return F.expr("timestamp_micros(ts div 1000)")
    return F.col("ts").cast("timestamp")


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: purchases joined to the clicks
    that preceded them within 30 minutes per user — both sides are
    streams (state-store buffered, watermark bounds the buffer), result
    checked against the equivalent batch interval join."""
    import shutil

    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema

    def side(event_type, alias_prefix):
        stream = spark.readStream.schema(raw_schema).format("parquet").load(str(d))
        stream = stream.withColumn("ts", _as_event_time(raw_schema))
        return (
            stream.filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias_prefix}_user"),
                F.col("ts").alias(f"{alias_prefix}_ts"),
                F.col("event_id").alias(f"{alias_prefix}_id"),
            )
            .withWatermark(f"{alias_prefix}_ts", "1 hour")
        )

    joined = side("purchase", "p").join(
        side("click", "c"),
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"
        ),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS c FROM ssj_out").collect()[0]["c"]

    ev = load_table(spark, SF, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    want = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"
        ),
    ).count()
    assert got == want and want > 0


def test_streaming_windowed_agg_memory_sink(spark, tmp_path):
    """Watermarked tumbling-window aggregation driven to completion via
    a file stream + memory sink (the streaming counterpart of the
    oracle-checked time_tumbling query)."""
    import shutil

    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    # stream with the RAW file schema; convert to event-time timestamp
    # inside the streaming plan (handles both nanos-long and NTZ files)
    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .load(str(d))
        .withColumn("ts", _as_event_time(raw_schema))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT count(*) AS c FROM win_out").collect()[0]["c"]
    # append mode only emits windows below the watermark; the final
    # (max-ts) window is withheld, so expect batch count minus those
    ev = load_table(spark, SF, "events")
    batch = ev.groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour"), "event_type").count()
    assert 0 < got <= batch.count()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data handling: a row arriving after the watermark passed its
    window is dropped — the window is never re-emitted or merged. Two
    sequential availableNow runs share a checkpoint so the watermark
    from run 1 (persisted) gates run 2's late row deterministically."""
    import json as _json

    d = tmp_path / "late_src"
    d.mkdir()
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")
    base = 1_600_000_000  # epoch seconds

    def write(fname, rows):
        with open(d / fname, "w") as f:
            for uid, ts_off, v in rows:
                f.write(_json.dumps({"user_id": uid, "ts_s": base + ts_off, "v": v}) + "\n")

    def run():
        stream = (
            spark.readStream.schema("user_id long, ts_s long, v double")
            .json(str(d))
            .withColumn("ts", F.expr("timestamp_seconds(ts_s)"))
            .withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "60 seconds"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .select(
                F.unix_seconds(F.col("window.start")).alias("w"), "n", "s"
            )
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    # run 1: on-time rows + a far-future row that drags the watermark
    # past the first windows, finalizing them
    write("f1.json", [(1, 5, 1.0), (1, 30, 1.0), (1, 500, 1.0)])
    run()
    # run 2: a LATE row (ts 10s, v=100) for a finalized window, plus a
    # future row that advances the watermark further
    write("f2.json", [(1, 10, 100.0), (1, 600, 1.0)])
    run()

    rows = {r["w"]: (r["n"], r["s"]) for r in spark.read.parquet(out).collect()}
    w1 = base - base % 60  # window containing ts base+5 AND late base+10
    assert rows[w1] == (1, 1.0), rows  # late v=100 row dropped, not merged
    assert all(s < 100.0 for _, s in rows.values()), rows


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming exact dedup: documents streamed from files, first
    occurrence per content fingerprint kept via dropDuplicates —
    streaming state is keyed by the md5 fingerprint (bounded by the
    distinct count, the streaming counterpart of dedup_exact's
    hash-groupBy). Emitted count must equal the batch distinct count."""
    import shutil

    d = tmp_path / "docs_stream"
    d.mkdir()
    shutil.copy(f"{SF}/documents.parquet", d / "documents.parquet")
    schema = spark.read.parquet(f"{SF}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(d))
        .withColumn("fp", F.md5(F.coalesce(F.col("text"), F.lit(""))))
        .dropDuplicates(["fp"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS c FROM dedup_out").collect()[0]["c"]
    want = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"))
        .distinct()
        .count()
    )
    assert got == want > 0


def test_streaming_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the state-BOUNDED streaming dedup
    (state evicts keys older than the watermark — the only formulation
    whose state doesn't grow with corpus size at 100 TB). With the whole
    file arriving in one availableNow batch the watermark never advances
    mid-batch, so the result equals full distinct-by-key."""
    import shutil

    d = tmp_path / "ev_dedup"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .parquet(str(d))
        .withColumn("ts", _as_event_time(raw_schema))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS c FROM wm_dedup_out").collect()[0]["c"]
    want = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert got == want > 0


def test_streaming_session_window_agg(spark, tmp_path):
    """Watermarked session-window aggregation in a real stream (the
    streaming counterpart of the oracle-checked time_session query):
    append mode emits only sessions closed below the watermark, so the
    emitted set is a prefix of the batch answer."""
    import shutil

    d = tmp_path / "ev_sess"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .parquet(str(d))
        .withColumn("ts", _as_event_time(raw_schema))
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql(
        "SELECT session_window.start AS s, user_id, n FROM sess_out"
    ).collect()
    got = {(r["s"], r["user_id"]): r["n"] for r in emitted}
    assert len(got) > 0

    ev = load_table(spark, SF, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    batch = {
        (r["s"], r["user_id"]): r["n"]
        for r in ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("session_window.start").alias("s"), "user_id", "n")
        .collect()
    }
    # every emitted session must exactly match the batch computation
    assert got.items() <= batch.items()
    assert len(got) >= len(batch) // 2  # watermark withholds only the tail


def test_merge_target_composite_custom_key(spark, tmp_path):
    """Reference parity (batchoutput.go:23: any PK up to 5 columns):
    the merge target must accept COMPOSITE keys with columns outside
    the canonical changelog schema — including on the very first
    batch, where the empty-target schema must come from the recorded
    batch types, not the canonical schema."""
    log = spark.createDataFrame(
        [
            ("app", "t1", 1, "a", 1, 10.0, "insert", 1),
            ("app", "t1", 1, "b", 2, 20.0, "insert", 2),
            ("app", "t1", 2, "a", 9, 90.0, "insert", 3),
            ("app", "t1", 1, "a", 3, 30.0, "update", 4),
            ("app", "t1", 1, "b", None, None, "delete", 5),
        ],
        "db string, table_name string, region int, code string, "
        "k int, value double, op string, seq long",
    )
    from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

    tgt = MergeApplyTarget(
        str(tmp_path / "t"),
        key_cols=("table_name", "region", "code"),
        payload_cols=("k", "value"),
        num_buckets=4,
    )
    tgt.apply_batch(log, epoch_id=1)
    got = {
        (r["table_name"], r["region"], r["code"]): (r["k"], r["value"])
        for r in tgt.read_current(spark).collect()
    }
    # (1,b) insert-then-delete annihilates; (1,a) ends on the update
    assert got == {("t1", 1, "a"): (3, 30.0), ("t1", 2, "a"): (9, 90.0)}

    # an un-applied target with custom keys refuses the empty read
    # loudly instead of silently dropping the unknown columns
    import pytest as _pytest

    fresh = MergeApplyTarget(
        str(tmp_path / "fresh"), key_cols=("nope", "pk"), payload_cols=("k",)
    )
    with _pytest.raises(ValueError, match="nope"):
        fresh.read_current(spark)


def test_merge_target_layout_is_immutable(spark, tmp_path):
    """Bucket routing is pmod(hash(key_cols), num_buckets): reopening a
    target with a different bucket count / key order / LWW mode reads
    the wrong bucket subset and silently duplicates rows. The r13
    layout file makes the first writer's choice binding — a mismatched
    reopen must refuse loudly, matched reopens and pre-existing
    targets keep working."""
    import pytest

    from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

    log = spark.createDataFrame(
        [(i, "t", i, "insert", i, float(i)) for i in range(50)],
        "seq long, table_name string, pk long, op string, k int, value double",
    )
    path = str(tmp_path / "tgt")
    t1 = MergeApplyTarget(path, num_buckets=16)
    assert t1.apply_batch(log, epoch_id=1)

    # matched reopen: fine (fresh instance, same layout)
    t2 = MergeApplyTarget(path, num_buckets=16)
    assert t2.read_current(spark).count() == 50

    # mismatched bucket count: refused before any write
    with pytest.raises(ValueError, match="layout"):
        MergeApplyTarget(path, num_buckets=32).apply_batch(log, epoch_id=2)
    # mismatched key order: refused (hash(key_cols) is order-sensitive)
    with pytest.raises(ValueError, match="layout"):
        MergeApplyTarget(path, key_cols=("pk", "table_name")).read_current(spark)
    # mismatched lww mode: refused (stored-row shape differs)
    with pytest.raises(ValueError, match="layout"):
        MergeApplyTarget(path, lww=True).apply_batch(log, epoch_id=2)

    # the refusals wrote nothing and the good instance still works
    assert t2.read_current(spark).count() == 50
    assert t2.apply_batch(log.withColumn("seq", log.seq + 100), epoch_id=2)
