"""Config-driven quality-gated CDC apply — the expect -> compact ->
merge pipeline (examples/expect_compact_merge.json): violating
changelog rows are routed to a dead-letter table and NEVER reach the
fenced merge target (the reference's MysqlCheckOutput can only diff
bad rows out of the target after the fact); a re-run of the same spec
is a VISIBLE fence no-op; a higher epochId applies fresh input."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from pipe_s_spark.plans.runner import run_pipeline
from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

SCHEMA = "table_name string, pk long, op string, seq long, k string, value double"

CHECKS = [
    {"kind": "not_null", "col": "pk"},
    {"kind": "in_set", "col": "op", "values": ["insert", "update", "delete"]},
    {
        "kind": "satisfies",
        "name": "value_present",
        "expr": "op = 'delete' OR value IS NOT NULL",
    },
]


def _spec(in_path: str, tgt: str, dlq: str, epoch: int) -> dict:
    return {
        "Input": {"Type": "parquet", "Config": {"path": in_path}},
        "Output": {
            "Type": "fork",
            "Outputs": [
                {
                    "Processors": [
                        {
                            "Type": "expect",
                            "Config": {"table": "changelog", "mode": "drop", "checks": CHECKS},
                        },
                        {"Type": "compact", "Config": {"keyCols": ["table_name", "pk"]}},
                    ],
                    "Output": {
                        "Type": "merge",
                        "Config": {
                            "path": tgt,
                            "keyCols": ["table_name", "pk"],
                            "payloadCols": ["k", "value"],
                            "numBuckets": 8,
                            "epochId": epoch,
                        },
                    },
                },
                {
                    "Processors": [
                        {
                            "Type": "expect",
                            "Config": {
                                "table": "changelog",
                                "mode": "quarantine",
                                "checks": CHECKS,
                            },
                        }
                    ],
                    "Output": {"Type": "parquet", "Config": {"path": dlq}},
                },
            ],
        },
    }


def _target_rows(spark, tgt: str) -> set:
    t = MergeApplyTarget(tgt, key_cols=("table_name", "pk"), payload_cols=("k", "value"), num_buckets=8)
    return {
        (r["table_name"], r["pk"], r["k"], r["value"])
        for r in t.read_current(spark).collect()
    }


def test_gated_merge_excludes_quarantined_and_fences_replay(spark, tmp_path, capsys):
    in_path = str(tmp_path / "changelog_in")
    tgt = str(tmp_path / "target")
    dlq = str(tmp_path / "deadletter")
    rows = [
        # clean history: pk 1 ends at 11.0; pk 2 is inserted then deleted
        ("t1", 1, "insert", 1, "k", 10.0),
        ("t1", 1, "update", 2, "k", 11.0),
        ("t1", 2, "insert", 3, "k", 20.0),
        ("t1", 2, "delete", 4, "k", None),
        # violations: null pk / unknown op / non-delete without a value
        ("t1", None, "insert", 5, "k", 30.0),
        ("t1", 3, "upsert", 6, "k", 40.0),
        ("t1", 4, "insert", 7, "k", None),
    ]
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(in_path)

    run_pipeline(spark, _spec(in_path, tgt, dlq, epoch=1))
    assert _target_rows(spark, tgt) == {("t1", 1, "k", 11.0)}
    dl = {r["pk"]: r["_violated"] for r in spark.read.parquet(dlq).collect()}
    assert set(dl) == {None, 3, 4}
    assert dl[None] == "not_null:pk"
    assert dl[3] == "in_set:op"
    assert dl[4] == "satisfies:value_present"

    # replay of the SAME spec: fence no-op, and VISIBLY so (the silent
    # stale-target failure mode the r7 advice flagged)
    capsys.readouterr()
    run_pipeline(spark, _spec(in_path, tgt, dlq, epoch=1))
    out = capsys.readouterr().out
    assert "already applied" in out and "epochId" in out
    assert _target_rows(spark, tgt) == {("t1", 1, "k", 11.0)}

    # fresh input at the NEXT epoch: the clean update lands, while a
    # malicious delete with a bad op is quarantined instead of
    # destroying pk 1
    rows2 = [
        ("t1", 1, "update", 8, "k", 12.0),
        ("t1", 5, "insert", 9, "k", 50.0),
        ("t1", 1, "DELETE", 10, "k", None),  # bad op -> dead-letter
    ]
    spark.createDataFrame(rows2, SCHEMA).write.mode("overwrite").parquet(in_path)
    run_pipeline(spark, _spec(in_path, tgt, dlq, epoch=2))
    assert _target_rows(spark, tgt) == {
        ("t1", 1, "k", 12.0),
        ("t1", 5, "k", 50.0),
    }
    dl2 = {r["pk"]: r["_violated"] for r in spark.read.parquet(dlq).collect()}
    # 'DELETE' fails in_set AND (being != 'delete', case-sensitive)
    # the value_present rule — both checks are reported
    assert dl2 == {1: "in_set:op,satisfies:value_present"}


def test_committed_example_config_parses_and_runs(spark, tmp_path, monkeypatch):
    """The committed examples/expect_compact_merge.json must stay
    runnable: rewrite its /tmp paths into the test sandbox and execute
    it end-to-end."""
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "examples", "expect_compact_merge.json")) as f:
        spec = json.load(f)

    def rewrite(obj):
        if isinstance(obj, dict):
            return {
                k: (
                    v.replace("/tmp/pipe_s_out", str(tmp_path))
                    if isinstance(v, str)
                    else rewrite(v)
                )
                for k, v in obj.items()
            }
        if isinstance(obj, list):
            return [rewrite(x) for x in obj]
        return obj

    spec = rewrite(spec)
    rows = [
        ("t1", 1, "insert", 1, "k", 1.0),
        ("t1", None, "insert", 2, "k", 2.0),  # dead-letter
    ]
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(
        str(tmp_path / "changelog_in")
    )
    run_pipeline(spark, spec)
    assert _target_rows(spark, str(tmp_path / "gated_target")) == {("t1", 1, "k", 1.0)}
    assert spark.read.parquet(str(tmp_path / "gated_deadletter")).count() == 1
