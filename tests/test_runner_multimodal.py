"""Tests for the JSON pipeline runner, metrics listener, and multimodal
plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipe_s_spark.functions.multimodal import (
    extract_image_features,
    sample_video_frames,
    synthesize_assets,
)
from pipe_s_spark.plans import PipelineSpecError, build_pipeline, run_pipeline
from pipe_s_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_runner_composes_filter_pipeline(spark):
    spec = {
        "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "events"}},
        "Processors": [
            {"Type": "changelog-from-events"},
            {"Type": "dml-filter", "Config": {"tableRegex": "^sbtest1$", "ops": ["insert", "update"]}},
            {"Type": "map-names", "Config": {"dbMap": {"app": "dw"}}},
            {"Type": "catch-table-name", "Config": {"pattern": "^(sbtest)\\d+$"}},
        ],
    }
    df = run_pipeline(spark, spec)
    rows = df.collect()
    assert rows and all(r.db == "dw" and r.table_name == "sbtest1" for r in rows)
    assert all(r.logical_table == "sbtest" for r in rows)


def test_runner_compact_and_parquet_output(spark, tmp_path):
    out = str(tmp_path / "net")
    spec = {
        "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "events"}},
        "Processors": [
            {"Type": "changelog-from-events"},
            {"Type": "compact", "Config": {"keyCols": ["table_name", "pk"], "payloadCols": ["k", "value"]}},
        ],
        "Output": {"Type": "parquet", "Config": {"path": out}},
    }
    assert run_pipeline(spark, spec) is None
    written = spark.read.parquet(out)
    assert written.count() > 0 and "net_op" in written.columns


def test_runner_fork_output(spark, tmp_path):
    """ForkPipeline parity (fork_pipeline.json): one source, two nested
    sub-pipelines with their own processors and sinks."""
    p1, p2 = str(tmp_path / "f1"), str(tmp_path / "f2")
    spec = {
        "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "events"}},
        "Processors": [{"Type": "changelog-from-events"}],
        "Output": {
            "Type": "fork",
            "Outputs": [
                {
                    "Processors": [
                        {"Type": "dml-filter", "Config": {"tableRegex": "^sbtest1$"}}
                    ],
                    "Output": {"Type": "parquet", "Config": {"path": p1}},
                },
                {
                    "Processors": [
                        {"Type": "compact", "Config": {"keyCols": ["table_name", "pk"],
                                                       "payloadCols": ["k", "value"]}}
                    ],
                    "Output": {"Type": "parquet", "Config": {"path": p2}},
                },
            ],
        },
    }
    assert run_pipeline(spark, spec) is None
    f1 = spark.read.parquet(p1)
    f2 = spark.read.parquet(p2)
    assert f1.count() > 0 and f1.filter(f1.table_name != "sbtest1").count() == 0
    assert f2.count() > 0 and "net_op" in f2.columns

    with pytest.raises(PipelineSpecError, match="non-empty"):
        run_pipeline(
            spark,
            {
                "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "events"}},
                "Output": {"Type": "fork", "Outputs": []},
            },
        )


def test_runner_debug_output(spark, capfd):
    """debug output prints only rows matching the predicate."""
    spec = {
        "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "events"}},
        "Processors": [{"Type": "changelog-from-events"}],
        "Output": {"Type": "debug", "Config": {"where": "table_name = 'sbtest1'", "numRows": 5}},
    }
    assert run_pipeline(spark, spec) is None
    out = capfd.readouterr().out
    assert "sbtest1" in out and "sbtest2" not in out


def test_runner_unknown_type_raises(spark):
    with pytest.raises(PipelineSpecError, match="unknown processor"):
        build_pipeline(
            spark,
            {
                "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "events"}},
                "Processors": [{"Type": "nope"}],
            },
        )
    with pytest.raises(PipelineSpecError, match="unknown input"):
        build_pipeline(spark, {"Input": {"Type": "mysql-binlog"}})


def test_multimodal_image_features(spark):
    docs = load_table(spark, SF, "documents")
    assets = synthesize_assets(docs)
    feats = extract_image_features(assets)
    rows = feats.collect()
    n_images = assets.filter(F.col("modality") == "image").count()
    assert len(rows) == n_images > 0
    r = rows[0]
    assert 64 <= r.width < 256 and len(r.features) == 16
    # determinism: same input -> same features
    again = {x.asset_id: x.features for x in extract_image_features(assets).collect()}
    assert again[r.asset_id] == r.features


def test_multimodal_frame_sampling(spark):
    docs = load_table(spark, SF, "documents")
    assets = synthesize_assets(docs)
    frames = sample_video_frames(assets, n_frames=4)
    n_videos = assets.filter(F.col("modality") == "video").count()
    got = frames.groupBy("asset_id").count().collect()
    assert len(got) == n_videos and all(r["count"] == 4 for r in got)


def test_streaming_metrics_listener(spark, tmp_path):
    import shutil
    import time

    from pipe_s_spark.metrics import attach_metrics

    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    listener = attach_metrics(spark)
    try:
        q = (
            spark.readStream.schema(raw_schema)
            .format("parquet")
            .load(str(d))
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.awaitTermination(60)
        deadline = time.time() + 10
        while listener.snapshot.batches == 0 and time.time() < deadline:
            time.sleep(0.2)
        assert listener.snapshot.batches >= 1
        assert listener.snapshot.rows_total == 1000  # sf0.001 events
    finally:
        spark.streams.removeListener(listener)


def test_parse_wav_header_roundtrip_and_malformed():
    """The RIFF walker recovers exactly what synthesize_wav encodes
    (incl. skipping the odd-sized junk chunk + pad byte) and returns
    None — never raises — on malformed input."""
    import hashlib
    import struct

    from pipe_s_spark.functions.multimodal import parse_wav_header, synthesize_wav

    for seed_text in ("hello", "", "x" * 1000, "junk-chunk-path"):
        seed = hashlib.md5(seed_text.encode()).hexdigest()
        blob = synthesize_wav(seed)
        parsed = parse_wav_header(blob)
        assert parsed is not None
        rate, ch, bits, n_frames, data = parsed
        bs = bytes.fromhex(seed)
        assert rate == (8000, 16000, 22050, 44100)[bs[0] % 4]
        assert (ch, bits) == (1, 16)
        assert n_frames == 8 * (1 + bs[1] % 32)
        assert struct.unpack("<h", data[:2])[0] == (bs[0] - 128) * 256

    assert parse_wav_header(None) is None
    assert parse_wav_header(b"") is None
    assert parse_wav_header(b"RIFF\x00\x00\x00\x00WAVE") is None  # no chunks
    assert parse_wav_header(b"OggS" + b"\x00" * 40) is None  # not RIFF
    # fmt present but data chunk truncated away
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    no_data = b"RIFF" + struct.pack("<I", 28) + b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    assert parse_wav_header(no_data) is None
    # non-PCM audio_format rejected (needs the real codec swap)
    fmt_f = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    float_wav = (
        b"RIFF" + struct.pack("<I", 40) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt_f
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    assert parse_wav_header(float_wav) is None


def test_audio_decode_kernel_null_and_nonpcm_rows(spark):
    """Undecodable blobs come back as null feature rows (image-kernel
    convention), not job failures."""
    from pipe_s_spark.functions.multimodal import extract_audio_features, synthesize_wav

    rows = [
        (1, "audio", "audio/x-wav", None, synthesize_wav("00" * 16)),
        (2, "audio", "audio/mpeg", None, b"ID3\x04not-a-wav"),
        (3, "audio", "audio/x-wav", None, None),
        (4, "image", "image/png", None, b"\x89PNG"),  # filtered out
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, modality string, mime string, n_bytes long, content binary"
    )
    got = {r["asset_id"]: r for r in extract_audio_features(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["sample_rate"] == 8000 and got[1]["rms"] is not None
    assert got[2]["sample_rate"] is None and got[2]["rms"] is None
    assert got[3]["n_frames"] is None


def test_parse_wav_header_property_random_layouts():
    """Property test: for arbitrary PCM parameters and arbitrary junk
    chunks interleaved anywhere in the RIFF list, the walker recovers
    exactly the encoded fmt/data — and arbitrary byte mutations never
    make it raise (None or a parse is always acceptable)."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pipe_s_spark.functions.multimodal import parse_wav_header

    junk_chunk = st.tuples(
        st.sampled_from([b"LIST", b"JUNK", b"bext", b"id3 "]),
        st.binary(min_size=0, max_size=33),
    )

    @settings(max_examples=150, deadline=None)
    @given(
        rate=st.integers(1, 192000),
        channels=st.integers(1, 8),
        bits=st.sampled_from([8, 16, 24, 32]),
        n_frames=st.integers(0, 64),
        pre=st.lists(junk_chunk, max_size=3),
        mid=st.lists(junk_chunk, max_size=3),
        seed=st.randoms(use_true_random=False),
    )
    def roundtrip(rate, channels, bits, n_frames, pre, mid, seed):
        frame_bytes = channels * (bits // 8)
        data = bytes(seed.randrange(256) for _ in range(n_frames * frame_bytes))
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate, rate * frame_bytes, frame_bytes, bits
        )

        def chunk(cid, body):
            pad = b"\x00" if len(body) % 2 else b""
            return cid + struct.pack("<I", len(body)) + body + pad

        chunks = b"".join(chunk(c, b) for c, b in pre)
        chunks += chunk(b"fmt ", fmt)
        chunks += b"".join(chunk(c, b) for c, b in mid)
        chunks += chunk(b"data", data)
        blob = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

        parsed = parse_wav_header(blob)
        assert parsed is not None
        g_rate, g_ch, g_bits, g_frames, g_data = parsed
        assert (g_rate, g_ch, g_bits) == (rate, channels, bits)
        assert g_frames == n_frames and g_data == data

        # mutation robustness: flip one byte anywhere — must not raise
        if blob:
            i = seed.randrange(len(blob))
            mutated = blob[:i] + bytes([blob[i] ^ 0xFF]) + blob[i + 1 :]
            parse_wav_header(mutated)

    roundtrip()


def test_runner_query_input_runs_registered_queries(spark, tmp_path):
    """The 'query' input type resolves any registered query by name, so
    the JSON front-end covers the analytics/curation surface."""
    out = run_pipeline(
        spark,
        {
            "Input": {
                "Type": "query",
                "Config": {"name": "text_length_histogram", "sfDir": "/root/testdata/sf0.001"},
            },
            "Output": {"Type": "return"},
        },
    )
    assert out.count() > 0

    with pytest.raises(PipelineSpecError, match="unknown query name"):
        run_pipeline(
            spark,
            {"Input": {"Type": "query", "Config": {"name": "nope", "sfDir": "x"}}},
        )


def test_runner_parquet_zorder_output(spark, tmp_path):
    path = str(tmp_path / "ev_z")
    run_pipeline(
        spark,
        {
            "Input": {
                "Type": "query",
                "Config": {"name": "layout_zorder", "sfDir": "/root/testdata/sf0.001"},
            },
            "Output": {
                "Type": "parquet",
                "Config": {"path": path, "zorderBy": ["user_id", "vbucket"], "numFiles": 4},
            },
        },
    )
    df = spark.read.parquet(path)
    assert df.count() > 0 and "zkey" in df.columns


def test_runner_sql_input(spark, tmp_path):
    out = run_pipeline(
        spark,
        {
            "Input": {
                "Type": "sql",
                "Config": {
                    "sfDir": "/root/testdata/sf0.001",
                    "query": "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang",
                },
            },
            "Output": {"Type": "return"},
        },
    )
    rows = out.collect()
    assert len(rows) > 0 and {"lang", "n"} == set(rows[0].asDict())


def test_runner_jsonl_output(spark, tmp_path):
    """'jsonl' output writes newline-delimited JSON (the dataset
    interchange format) with a bounded file count."""
    import glob
    import json as jsonlib

    path = str(tmp_path / "docs_jsonl")
    run_pipeline(
        spark,
        {
            "Input": {
                "Type": "query",
                "Config": {"name": "text_stats", "sfDir": "/root/testdata/sf0.001"},
            },
            "Output": {"Type": "jsonl", "Config": {"path": path, "numFiles": 2}},
        },
    )
    files = glob.glob(f"{path}/part-*.json")
    assert 0 < len(files) <= 2
    rows = []
    for fp in files:
        with open(fp) as f:
            rows += [jsonlib.loads(line) for line in f if line.strip()]
    want = run_pipeline(
        spark,
        {
            "Input": {
                "Type": "query",
                "Config": {"name": "text_stats", "sfDir": "/root/testdata/sf0.001"},
            },
            "Output": {"Type": "return"},
        },
    ).count()
    assert len(rows) == want and "doc_id" in rows[0]


def test_runner_sql_processor(spark):
    """The `sql` processor applies arbitrary Spark SQL to the piped
    DataFrame (exposed as __input__), composing with other steps."""
    spec = {
        "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "events"}},
        "Processors": [
            {
                "Type": "sql",
                "Config": {
                    "query": "SELECT event_type, COUNT(*) AS n FROM __input__ "
                    "GROUP BY event_type"
                },
            },
            {
                "Type": "sql",
                "Config": {"query": "SELECT event_type FROM __input__ WHERE n > 0"},
            },
        ],
    }
    df = run_pipeline(spark, spec)
    types = sorted(r.event_type for r in df.collect())
    assert types and types == sorted(set(types))


def test_runner_expect_gate_fork(spark, tmp_path):
    """The expect processor + fork output = declarative quarantine
    routing (examples/expect_gate_fork.json): clean rows to the main
    sink, violating rows to the dead-letter sink with their failed
    checks — and every row lands in exactly one of the two."""
    import json

    spec = json.load(open("examples/expect_gate_fork.json"))
    good_p, bad_p = str(tmp_path / "clean"), str(tmp_path / "quar")
    spec["Output"]["Outputs"][0]["Output"]["Config"]["path"] = good_p
    spec["Output"]["Outputs"][1]["Output"]["Config"]["path"] = bad_p
    assert run_pipeline(spark, spec) is None
    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    good = spark.read.parquet(good_p).count()
    bad = spark.read.parquet(bad_p)
    assert good + bad.count() == total
    assert "violated" in bad.columns


def test_runner_expect_drop_and_quarantine_modes(spark):
    df_spec = {"Type": "parquet", "Config": {"sfDir": SF, "table": "customer"}}
    checks = [{"kind": "in_range", "col": "c_acctbal", "lo": 0}]
    kept = run_pipeline(
        spark,
        {
            "Input": df_spec,
            "Processors": [{"Type": "expect", "Config": {"checks": checks, "mode": "drop"}}],
            "Output": {"Type": "return"},
        },
    )
    quar = run_pipeline(
        spark,
        {
            "Input": df_spec,
            "Processors": [{"Type": "expect", "Config": {"checks": checks, "mode": "quarantine"}}],
            "Output": {"Type": "return"},
        },
    )
    total = spark.read.parquet(f"{SF}/customer.parquet").count()
    nk, nq = kept.count(), quar.count()
    assert nk + nq == total and nq > 0
    assert "_violated" not in kept.columns
    assert quar.select("_violated").distinct().collect()[0][0] == "in_range:c_acctbal"


def test_runner_csv_orc_roundtrip(spark, tmp_path):
    """csv and orc input/output legs: write each format from a query
    source, read it back through the runner, identical rows."""
    csv_p, orc_p = str(tmp_path / "csv_out"), str(tmp_path / "orc_out")
    base = {
        "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "nation"}},
        "Processors": [],
    }
    run_pipeline(spark, {**base, "Output": {"Type": "csv", "Config": {"path": csv_p, "numFiles": 1}}})
    run_pipeline(spark, {**base, "Output": {"Type": "orc", "Config": {"path": orc_p}}})
    want = spark.read.parquet(f"{SF}/nation.parquet").count()
    got_csv = run_pipeline(
        spark, {"Input": {"Type": "csv", "Config": {"path": csv_p}},
                "Processors": [], "Output": {"Type": "return"}}
    )
    got_orc = run_pipeline(
        spark, {"Input": {"Type": "orc", "Config": {"path": orc_p}},
                "Processors": [], "Output": {"Type": "return"}}
    )
    assert got_csv.count() == want and got_orc.count() == want
    assert {r["n_name"] for r in got_orc.collect()} == {
        r["n_name"] for r in spark.read.parquet(f"{SF}/nation.parquet").collect()
    }


def test_runner_apply_schema_processor(spark):
    """apply-schema: JSON payloads typed by an inline DDL schema and
    flattened — the declarative converter leg."""
    out = run_pipeline(
        spark,
        {
            "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "events"}},
            "Processors": [
                {"Type": "changelog-from-events"},
                {"Type": "json-marshal", "Config": {"columns": ["pk", "k", "value"],
                                                    "outCol": "new_row"}},
                {"Type": "apply-schema", "Config": {
                    "schema": "pk bigint, k int, value double",
                    "jsonCol": "new_row", "outCol": "typed", "flatten": False}},
            ],
            "Output": {"Type": "return"},
        },
    )
    row = out.select("typed.pk", "typed.k", "typed.value", "pk").limit(1).collect()[0]
    assert row["typed.pk" if "typed.pk" in row.asDict() else "pk"] is not None
    assert out.schema["typed"].dataType.simpleString().startswith("struct<pk:bigint")


def test_runner_check_output(spark, tmp_path):
    """check output: source-vs-target consistency report through the
    JSON front-end — equal inputs yield an EMPTY report, a mutated
    target yields row_miss + row_diff rows."""
    tgt_p, rep_p = str(tmp_path / "tgt"), str(tmp_path / "rep")
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    nation.write.parquet(tgt_p)
    spec = {
        "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "nation"}},
        "Processors": [],
        "Output": {"Type": "check", "Config": {
            "targetPath": tgt_p, "keys": ["n_nationkey"], "resultPath": rep_p}},
    }
    assert run_pipeline(spark, spec) is None
    assert spark.read.parquet(rep_p).count() == 0

    from pyspark.sql import functions as F

    bad = nation.filter(F.col("n_nationkey") > 2).withColumn(
        "n_name",
        F.when(F.col("n_nationkey") == 5, F.lit("WRONG")).otherwise(F.col("n_name")),
    )
    bad.write.mode("overwrite").parquet(tgt_p)
    run_pipeline(spark, spec)
    rep = spark.read.parquet(rep_p)
    kinds = {r["diff_type"] for r in rep.collect()}
    assert kinds == {"row_miss", "row_diff"}
    assert rep.filter("diff_type = 'row_miss'").count() == 3
    assert rep.filter("diff_type = 'row_diff'").count() == 1


def test_runner_streaming_merge_pipeline(spark, tmp_path):
    """End-to-end STREAMING sync from JSON config: file-source change
    stream -> dml-filter -> fenced bucketed merge target — the
    db_stream_sync.json semantics entirely through the declarative
    front-end. Final state must equal the batch compact+apply of the
    same (filtered) changelog."""
    import json as _json
    import os as _os

    from pipe_s_spark.model import changelog_from_events
    from pipe_s_spark.operators.compaction import compact_changelog, merge_apply
    from pipe_s_spark.sources import load_table
    from pipe_s_spark.streaming.merge_apply import (
        FLAT_CHANGELOG_SCHEMA,
        MergeApplyTarget,
    )

    cl = changelog_from_events(load_table(spark, SF, "events")).orderBy("seq")
    rows = [r.asDict() for r in cl.collect()]
    d = tmp_path / "cl"
    d.mkdir()
    per = (len(rows) + 3) // 4
    for i in range(4):
        p = d / f"part-{i:03d}.json"
        with open(p, "w") as f:
            for r in rows[i * per : (i + 1) * per]:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (1_600_000_000 + i,) * 2)

    tgt_p = str(tmp_path / "target")
    spec = {
        "Input": {"Type": "json-stream", "Config": {
            "path": str(d),
            "schema": FLAT_CHANGELOG_SCHEMA.simpleString().replace("struct<", "").rstrip(">").replace(":", " "),
            "maxFilesPerTrigger": 2}},
        "Processors": [{"Type": "dml-filter", "Config": {"tableRegex": "^sbtest[12]$"}}],
        "Output": {"Type": "merge", "Config": {
            "path": tgt_p,
            "checkpoint": str(tmp_path / "ck"),
            "awaitSeconds": 240}},
    }
    assert run_pipeline(spark, spec) is None

    batch = spark.read.schema(FLAT_CHANGELOG_SCHEMA).json(str(d)).filter(
        "table_name rlike '^sbtest[12]$'"
    )
    compacted = compact_changelog(
        batch, key_cols=("table_name", "pk"), payload_cols=("k", "value")
    )
    empty = compacted.filter("false").select("table_name", "pk", "k", "value")
    want = {
        (r["table_name"], r["pk"]): (r["k"], r["value"])
        for r in merge_apply(empty, compacted, ("table_name", "pk"), ("k", "value")).collect()
    }
    got = {
        (r["table_name"], r["pk"]): (r["k"], r["value"])
        for r in MergeApplyTarget(tgt_p).read_current(spark).collect()
    }
    assert got == want and len(got) > 0


def test_runner_streaming_fork_two_sinks(spark, tmp_path):
    """Streaming fork: one file-source stream fanned to two streaming
    parquet sinks with independent checkpoints (drained sequentially
    under availableNow) — every source row lands in exactly the
    branches whose filter admits it."""
    import json as _json

    rows = [{"pk": i, "tag": "a" if i % 2 == 0 else "b"} for i in range(40)]
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    pa, pb = str(tmp_path / "sink_a"), str(tmp_path / "sink_b")
    spec = {
        "Input": {"Type": "json-stream", "Config": {
            "path": str(src), "schema": "pk long, tag string"}},
        "Processors": [],
        "Output": {"Type": "fork", "Outputs": [
            {"Processors": [{"Type": "sql", "Config": {
                 "query": "SELECT * FROM __input__ WHERE tag = 'a'", "view": "__input__"}}],
             "Output": {"Type": "parquet", "Config": {
                 "path": pa, "checkpoint": str(tmp_path / "ck_a"), "awaitSeconds": 240}}},
            {"Processors": [{"Type": "sql", "Config": {
                 "query": "SELECT * FROM __input__ WHERE tag = 'b'", "view": "__input__"}}],
             "Output": {"Type": "parquet", "Config": {
                 "path": pb, "checkpoint": str(tmp_path / "ck_b"), "awaitSeconds": 240}}},
        ]},
    }
    assert run_pipeline(spark, spec) is None
    assert spark.read.parquet(pa).count() == 20
    assert spark.read.parquet(pb).count() == 20


def test_runner_cli_list(capsys):
    from pipe_s_spark.plans.runner import main

    assert main(["--list"]) == 0
    out = capsys.readouterr().out
    assert "expect" in out and "apply-schema" in out and "merge" in out
    assert "ivf-index" in out


def test_runner_merge_output_rerun_is_fence_noop(spark, tmp_path):
    """Re-running the same batch merge spec replays epoch 1 and must
    be a no-op (the fence skips it), leaving the target identical —
    the idempotence the docstring promises."""
    tgt_p = str(tmp_path / "tgt")
    spec = {
        "Input": {"Type": "parquet", "Config": {"sfDir": SF, "table": "events"}},
        "Processors": [{"Type": "changelog-from-events"}],
        "Output": {"Type": "merge", "Config": {"path": tgt_p}},
    }
    assert run_pipeline(spark, spec) is None
    from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

    first = {
        tuple(r) for r in MergeApplyTarget(tgt_p).read_current(spark).collect()
    }
    assert run_pipeline(spark, spec) is None  # replay: fence no-op
    second = {
        tuple(r) for r in MergeApplyTarget(tgt_p).read_current(spark).collect()
    }
    assert second == first and len(first) > 0


def _stream_spec(tmp_path, schema: str, out_type: str, cfg: dict) -> dict:
    src = tmp_path / "src"
    src.mkdir(exist_ok=True)
    return {
        "Input": {"Type": "json-stream", "Config": {"path": str(src), "schema": schema}},
        "Output": {"Type": out_type, "Config": {
            "checkpoint": str(tmp_path / "ck"), "awaitSeconds": 60, **cfg}},
    }


def test_runner_streaming_delta_refuses_fold_into(spark, tmp_path):
    """A stream input cannot fold a delta target into its base; the
    spec is refused by key name instead of dropping the fold."""
    spec = _stream_spec(tmp_path, "id string, seq long, db string, table_name string, "
                        "op string, pk long, k long, value string", "delta", {
                            "path": str(tmp_path / "delta"),
                            "foldInto": {"path": str(tmp_path / "base")}})
    with pytest.raises(PipelineSpecError, match="foldInto"):
        run_pipeline(spark, spec)
    assert not (tmp_path / "delta").exists() and not (tmp_path / "ck").exists()


def test_runner_streaming_index_sinks_refuse_continuous(spark, tmp_path):
    """The index sinks drain availableNow; a stream spec asking for a
    continuous trigger is refused by key name instead of ignored."""
    dedup = _stream_spec(tmp_path, "doc_id long, text string", "dedup-index", {
        "indexPath": str(tmp_path / "idx"), "pairsPath": str(tmp_path / "prs"),
        "continuous": True})
    ivf = _stream_spec(tmp_path, "vec_id long, embedding array<double>", "ivf-index", {
        "indexPath": str(tmp_path / "idx"), "topkPath": str(tmp_path / "topk"),
        "centroids": {"0": [1, 0], "1": [0, 1]}, "continuous": True})
    for spec in (dedup, ivf):
        with pytest.raises(PipelineSpecError, match="continuous"):
            run_pipeline(spark, spec)
    assert not (tmp_path / "idx").exists() and not (tmp_path / "ck").exists()
