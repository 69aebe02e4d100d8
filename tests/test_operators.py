"""Operator-level unit tests, mirroring the reference's own unit suite
(SURVEY.md §5.1): construct tiny frames, apply the operator, assert the
transformed payload. The compaction property test replays random op
sequences through a naive row-by-row applier — the reference's
integrity-loop idea, done cheaply in memory."""

from __future__ import annotations

import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from pipe_s_spark.operators import (
    catch_table_name,
    check_consistency,
    compact_changelog,
    filter_dml,
    map_actions,
    map_names,
    merge_apply,
    value_map,
)


def test_filter_dml_regex_and_ops(spark):
    df = spark.createDataFrame(
        [("sbtest1", "insert"), ("sbtest2", "delete"), ("other", "insert")],
        "table_name string, op string",
    )
    out = df.transform(filter_dml(r"^sbtest\d+$", ["insert"])).collect()
    assert [(r.table_name, r.op) for r in out] == [("sbtest1", "insert")]


def test_map_actions_swaps_rows_on_delete_to_insert(spark):
    """dbchange.go:239-269 semantics: remapping delete->insert moves
    OldRow into NewRow."""
    df = spark.createDataFrame(
        [
            Row(op="delete", old_row=Row(id=1, v="x"), new_row=None),
            Row(op="insert", old_row=None, new_row=Row(id=2, v="y")),
        ]
    )
    out = {r.op: r for r in df.transform(map_actions({"delete": "insert"})).collect()}
    assert set(out) == {"insert"}
    rows = df.transform(map_actions({"delete": "insert"})).collect()
    swapped = [r for r in rows if r.new_row and r.new_row.id == 1][0]
    assert swapped.old_row is None and swapped.new_row.v == "x"
    untouched = [r for r in rows if r.new_row and r.new_row.id == 2][0]
    assert untouched.new_row.v == "y"


def test_map_actions_insert_to_delete_moves_new_to_old(spark):
    df = spark.createDataFrame(
        [("insert", None, (7, "z"))],
        "op string, old_row struct<id:long,v:string>, new_row struct<id:long,v:string>",
    )
    r = df.transform(map_actions({"insert": "delete"})).collect()[0]
    assert r.op == "delete" and r.new_row is None and r.old_row.id == 7


def test_map_actions_passthrough_update_keeps_both_images(spark):
    """Events whose op is NOT remapped keep old_row AND new_row — an
    update's pre-image must survive (dbchange.go: updates carry both)."""
    df = spark.createDataFrame(
        [("update", (1, "before"), (1, "after")), ("delete", (2, "gone"), None)],
        "op string, old_row struct<id:long,v:string>, new_row struct<id:long,v:string>",
    )
    rows = {r.op: r for r in df.transform(map_actions({"insert": "update"})).collect()}
    upd = rows["update"]
    assert upd.old_row.v == "before" and upd.new_row.v == "after"
    assert rows["delete"].old_row.v == "gone" and rows["delete"].new_row is None


def test_unmarshal_no_flatten_single_column(spark):
    from pipe_s_spark.operators.jsonio import marshal_json, unmarshal_json

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    wire = df.transform(marshal_json(["id", "s"], out_col="value"))
    back = wire.transform(unmarshal_json("id long, s string", in_col="value", flatten=False))
    assert back.columns.count("value") == 1
    assert back.select("value.s").collect()[0][0] == "a"


def test_upsert_fmt_dialect_escaping():
    from pipe_s_spark.sinks.jdbc_upsert import _fmt

    assert _fmt("a\\b'c", "mysql") == "'a\\\\b''c'"
    assert _fmt("a\\b'c", "ansi") == "'a\\b''c'"


def test_map_names_and_value_map(spark):
    df = spark.createDataFrame([("app", "sbtest3", 5)], "db string, table_name string, k int")
    out = (
        df.transform(map_names(db_map={"app": "dw"}, column_map={"k": "kk"}))
        .transform(catch_table_name(r"^(sbtest)\d+$"))
        .transform(value_map({"sbtest": "t_sb"}, "logical_table", "topic", "dflt"))
        .collect()[0]
    )
    assert (out.db, out.kk, out.logical_table, out.topic) == ("dw", 5, "sbtest", "t_sb")


def _naive_apply(ops):
    """Row-by-row reference applier for one key: returns final row or
    None (absent)."""
    state = None
    for op, payload in ops:
        if op == "insert" or op == "update":
            state = payload
        elif op == "delete":
            state = None
    return state


def test_compaction_matches_naive_replay_random_sequences(spark):
    """Property test: for random per-key op sequences, batch compaction
    + merge-apply onto the correct base equals naive sequential replay."""
    rng = random.Random(42)
    rows = []
    expected = {}
    base_rows = []
    seq = 0
    for key in range(60):
        in_db = rng.random() < 0.5
        if in_db:
            base_rows.append((key, -1))  # pre-existing row, payload -1
        # well-formed CDC sequence: insert only when absent,
        # update/delete only when present (the invariant the reference's
        # inDB inference relies on, batchmessage.go:25-57)
        exists = in_db
        ops = []
        for i in range(rng.randint(1, 6)):
            op = "insert" if not exists else rng.choice(["update", "delete"])
            exists = op != "delete"
            payload = key * 100 + i
            ops.append((op, payload))
            rows.append((seq, key, op, payload))
            seq += 1
        base_state = [("insert", -1)] if in_db else []
        final = _naive_apply(base_state + ops)
        if final is not None:
            expected[key] = final
    cl = spark.createDataFrame(rows, "seq long, pk long, op string, payload long")
    base = spark.createDataFrame(base_rows or [(None, None)], "pk long, payload long").filter(
        F.col("pk").isNotNull()
    )
    compacted = compact_changelog(cl, key_cols=("pk",), payload_cols=("payload",))
    result = merge_apply(base, compacted, ("pk",), ("payload",))
    got = {r.pk: r.payload for r in result.collect()}
    assert got == expected


def test_compaction_annihilates_insert_delete(spark):
    cl = spark.createDataFrame(
        [(0, 1, "insert", 10), (1, 1, "delete", 10), (2, 2, "insert", 20)],
        "seq long, pk long, op string, payload long",
    )
    out = compact_changelog(cl, key_cols=("pk",), payload_cols=("payload",))
    rows = {r.pk: r.net_op for r in out.collect()}
    assert rows == {2: "insert"}


def test_compaction_delete_insert_becomes_update(spark):
    cl = spark.createDataFrame(
        [(0, 1, "delete", 0), (1, 1, "insert", 42)],
        "seq long, pk long, op string, payload long",
    )
    r = compact_changelog(cl, key_cols=("pk",), payload_cols=("payload",)).collect()[0]
    assert r.net_op == "update" and r.payload == 42


def test_schema_registry_ddl_mid_stream(spark):
    """ALTER-shaped event mid-stream re-types subsequent fan-out
    (simple.go:92-103 invalidation parity)."""
    from pipe_s_spark.operators import SchemaRegistry, apply_ddl_events, fan_out_tables
    from pyspark.sql import types as T

    reg = SchemaRegistry({"t1": T.StructType([T.StructField("k", T.IntegerType())])})
    v0 = reg.version

    batch1 = spark.createDataFrame(
        [("insert", "t1", '{"k": 1}')], "op string, table_name string, new_row string"
    )
    out1 = fan_out_tables(apply_ddl_events(reg, batch1), reg, json_cols=("new_row",))
    assert out1["t1"].select("new_row.k").collect()[0][0] == 1
    assert reg.version == v0  # no DDL seen

    batch2 = spark.createDataFrame(
        [
            ("ddl", "t1", '{"action": "alter", "columns": {"k": "int", "note": "string"}}'),
            ("insert", "t1", '{"k": 2, "note": "hello"}'),
        ],
        "op string, table_name string, new_row string",
    )
    dml = apply_ddl_events(reg, batch2)
    assert reg.version > v0
    assert dml.filter(dml.op == "ddl").count() == 0  # control rows consumed
    out2 = fan_out_tables(dml, reg, json_cols=("new_row",))
    row = out2["t1"].select("new_row.k", "new_row.note").collect()[0]
    assert (row[0], row[1]) == (2, "hello")

    batch3 = spark.createDataFrame(
        [("ddl", "t1", '{"action": "drop"}')], "op string, table_name string, new_row string"
    )
    apply_ddl_events(reg, batch3)
    assert reg.get("t1") is None


def test_checker_recheck_drops_concurrently_updated_rows(spark):
    """checkoutput.go:349-412 parity: a diff candidate whose SOURCE row
    changed between snapshot and recheck is a mid-update artifact, not
    an inconsistency — it must leave the report."""
    snap = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "pk long, v double"
    )
    tgt = spark.createDataFrame([(1, 10.0), (2, 99.0)], "pk long, v double")
    # fresh read: pk=2 changed since snapshot (concurrent update),
    # pk=3 unchanged (still missing from target -> real miss)
    fresh = spark.createDataFrame([(1, 10.0), (2, 21.0), (3, 30.0)], "pk long, v double")
    rep = {
        (r.pk, r.diff_type)
        for r in check_consistency(snap, tgt, ["pk"], ["v"], recheck_src=fresh).collect()
    }
    assert rep == {(3, "row_miss")}  # pk=2's diff dropped, pk=1 consistent

    # a vanished source row (deleted concurrently) is dropped too
    fresh2 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "pk long, v double")
    rep2 = {
        (r.pk, r.diff_type)
        for r in check_consistency(snap, tgt, ["pk"], ["v"], recheck_src=fresh2).collect()
    }
    assert rep2 == {(2, "row_diff")}  # pk=3 vanished at source -> dropped


def test_kafka_frame_decode(spark):
    """decode_changelog_frame against the connector's exact output
    shape (key/value binary + coordinates)."""
    import json as _json

    from pipe_s_spark.sources import decode_changelog_frame

    ev = {
        "id": "e1", "seq": 7, "db": "app", "table_name": "sbtest1",
        "db_time": 1, "event_time": 2, "op": "insert",
        "old_row": None, "new_row": '{"k": 5}', "extra": {"gtid": "x"},
    }
    frame = spark.createDataFrame(
        [("k1".encode(), _json.dumps(ev).encode(), "cdc", 0, 42)],
        "key binary, value binary, topic string, partition int, offset long",
    )
    out = decode_changelog_frame(frame).collect()[0]
    assert (out.topic, out.partition, out.offset) == ("cdc", 0, 42)
    assert (out.seq, out.op, out.table_name) == (7, "insert", "sbtest1")
    assert out.extra["gtid"] == "x"


def test_checker_classifies_miss_and_diff(spark):
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    tgt = spark.createDataFrame([(1, "a"), (3, "X")], "id long, v string")
    out = {(r.id, r.diff_type) for r in check_consistency(src, tgt, ["id"], ["v"]).collect()}
    assert out == {(2, "row_miss"), (3, "row_diff")}


def test_salted_join_matches_plain_join(spark):
    from pipe_s_spark.operators import salted_join

    # heavy-hitter key 1 (900 of 1000 rows), plus normal keys
    left = spark.createDataFrame(
        [(1 if i < 900 else i % 50, i) for i in range(1000)], "k int, v int"
    )
    right = spark.createDataFrame([(i, f"r{i}") for i in range(50)], "k int, name string")
    got = salted_join(left, right, on=["k"], n_salts=8)
    want = left.join(right, on="k")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_salted_agg_matches_plain_agg(spark):
    from pyspark.sql import functions as F

    from pipe_s_spark.operators import salted_agg

    df = spark.createDataFrame(
        [(1 if i < 900 else i % 50, i, float(i)) for i in range(1000)],
        "k int, a int, b double",
    )
    got = salted_agg(
        df, ["k"], sum_cols=["a"], min_cols=["b"], max_cols=["b"],
        count_alias="n", n_salts=8,
    )
    want = df.groupBy("k").agg(
        F.sum("a").alias("sum_a"),
        F.min("b").alias("min_b"),
        F.max("b").alias("max_b"),
        F.count(F.lit(1)).alias("n"),
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w


def test_kmv_sketch_estimate_accuracy(spark):
    """KMV bottom-k estimate lands near the true distinct count
    (k=64 -> ~1/8 relative std error) and is exact under-fill."""
    from pipe_s_spark.functions.sketches import kmv_distinct_estimate

    df = spark.createDataFrame([(i % 1000,) for i in range(5000)], "v long")
    est = kmv_distinct_estimate(df, "v", k=64).collect()[0]
    assert est["n_hashes"] == 64
    assert abs(est["est_distinct"] - 1000) / 1000 < 0.30
    small = spark.createDataFrame([(i % 10,) for i in range(100)], "v long")
    est2 = kmv_distinct_estimate(small, "v", k=64).collect()[0]
    assert est2["n_hashes"] == 10 and est2["est_distinct"] == 10.0


def test_hll_estimate_accuracy_and_union_merge(spark):
    """Deterministic HLL: estimate within ~3 std errors (m=64 -> 13%),
    linear counting kicks in for tiny sets, and the sketch merges by
    union — running the plan over A UNION ALL B equals merging the two
    register sets by MAX (the HLL merge rule)."""
    from pipe_s_spark.functions.sketches import HLL_M, hll_estimate, hll_probe
    from pyspark.sql import functions as F

    big = spark.createDataFrame([(i % 2000,) for i in range(6000)], "v long")
    est = hll_estimate(big, "v").collect()[0]
    assert abs(est["est_distinct"] - 2000) / 2000 < 0.40
    # small set: every register empty except a handful -> linear counting
    tiny = spark.createDataFrame([(i,) for i in range(8)], "v long")
    est2 = hll_estimate(tiny, "v").collect()[0]
    assert est2["n_zero_registers"] >= HLL_M - 8
    assert abs(est2["est_distinct"] - 8) <= 2
    # union-merge: registers over A++B == MAX-merge of registers(A), registers(B)
    a = spark.createDataFrame([(i,) for i in range(500)], "v long")
    b = spark.createDataFrame([(i,) for i in range(300, 900)], "v long")

    def regs(df):
        bucket, rho = hll_probe("v")
        return {
            r["bucket"]: r["reg"]
            for r in df.select(bucket, rho).groupBy("bucket").agg(F.max("rho").alias("reg")).collect()
        }

    ra, rb, rab = regs(a), regs(b), regs(a.unionAll(b))
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    assert rab == merged


def test_validate_changelog_flags_state_machine_violations(spark):
    """The CDC transitions the reference hard-errors on (plus the inDB
    contract) surface as a data-quality report."""
    from pipe_s_spark.operators.compaction import validate_changelog

    rows = [
        # pk=1: clean insert -> update -> delete
        (1, 1, "insert"), (2, 1, "update"), (3, 1, "delete"),
        # pk=2: starts with update (first_op_not_insert)
        (4, 2, "update"),
        # pk=3: insert -> delete -> update (update_after_delete)
        (5, 3, "insert"), (6, 3, "delete"), (7, 3, "update"),
        # pk=4: insert -> insert (insert_on_present)
        (8, 4, "insert"), (9, 4, "insert"),
    ]
    df = spark.createDataFrame(
        [("d", "t", pk, seq, op) for seq, pk, op in rows],
        "db string, table_name string, pk long, seq long, op string",
    )
    out = {(r.pk, r.violation) for r in validate_changelog(df).collect()}
    assert out == {
        (2, "first_op_not_insert"),
        (3, "update_after_delete"),
        (4, "insert_on_present"),
    }


def test_connected_components_matches_union_find_random_graphs(spark):
    """Property test: on random graphs, the distributed min-label
    propagation equals a driver-side union-find (seeded, 3 graphs)."""
    import random

    from pipe_s_spark.functions.dedup import connected_components

    def union_find(edges, verts):
        parent = {v: v for v in verts}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical component = min vertex reachable
        comp = {}
        for v in verts:
            comp[v] = find(v)
        # path-compress to true minima
        changed = True
        while changed:
            changed = False
            for v in verts:
                if comp[v] != comp[comp[v]]:
                    comp[v] = comp[comp[v]]
                    changed = True
        return comp

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n, m = 40, 35
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        verts = sorted({v for e in edges for v in e})
        df = spark.createDataFrame(edges, "d1 long, d2 long")
        got = {r["v"]: r["component"] for r in connected_components(df).collect()}
        want = union_find(edges, verts)
        assert got == want, f"seed={seed}"


def test_ddl_events_apply_in_seq_order(spark):
    """Two ALTERs of the same table in one batch must apply in seq
    order regardless of row order in the frame — collect() without the
    sort returns partition order and could leave the older shape."""
    import json

    from pyspark.sql import types as T

    from pipe_s_spark.operators.converter import SchemaRegistry, apply_ddl_events

    newer = json.dumps({"action": "alter", "columns": {"a": "int", "b": "string", "c": "double"}})
    older = json.dumps({"action": "alter", "columns": {"a": "int"}})
    rows = [
        # newer DDL deliberately FIRST in frame order, lower seq second
        {"seq": 5, "table_name": "t1", "op": "ddl", "new_row": newer},
        {"seq": 2, "table_name": "t1", "op": "ddl", "new_row": older},
        {"seq": 3, "table_name": "t1", "op": "insert", "new_row": json.dumps({"a": 1})},
    ]
    batch = spark.createDataFrame(rows, "seq long, table_name string, op string, new_row string")
    reg = SchemaRegistry()
    out = apply_ddl_events(reg, batch)
    assert [f.name for f in reg.get("t1").fields] == ["a", "b", "c"]
    assert out.count() == 1  # ddl rows removed
    assert isinstance(reg.get("t1")["c"].dataType, T.DoubleType)


def test_schema_registry_get_or_fetch_lazy_refetch(spark):
    """Invalidation (DDL without in-band columns) drops the cache and
    the next get_or_fetch repopulates from the pluggable fetcher —
    the reference's invalidate-then-refetch protocol."""
    import json

    from pyspark.sql import types as T

    from pipe_s_spark.operators.converter import SchemaRegistry, apply_ddl_events

    calls = []

    def fetcher(table):
        calls.append(table)
        return T.StructType([T.StructField("a", T.LongType()), T.StructField("v2", T.StringType())])

    v1 = T.StructType([T.StructField("a", T.LongType())])
    reg = SchemaRegistry({"t1": v1}, fetcher=fetcher)
    assert reg.get_or_fetch("t1") is v1 and calls == []  # cache hit: no fetch

    batch = spark.createDataFrame(
        [{"seq": 1, "table_name": "t1", "op": "ddl", "new_row": json.dumps({"action": "alter"})}],
        "seq long, table_name string, op string, new_row string",
    )
    apply_ddl_events(reg, batch)
    assert reg.get("t1") is None, "bare ALTER invalidates the cache"
    got = reg.get_or_fetch("t1")
    assert [f.name for f in got.fields] == ["a", "v2"] and calls == ["t1"]
    reg.get_or_fetch("t1")
    assert calls == ["t1"], "fetched schema is cached"


def test_connected_components_non_convergence_raises_or_warns(spark, monkeypatch):
    import pytest as _pytest

    import pipe_s_spark.functions.dedup as D
    from pipe_s_spark.functions.dedup import connected_components

    # hop budgets only exist on the DISTRIBUTED fallback (the driver
    # fold resolves any graph in one union-find pass) — force it. AQE
    # partition coalescing must also be off: it folds the tiny
    # repartition shuffle into ONE task, whose local union-find
    # resolves the whole chain with no hops at all. Scattered over 32
    # tasks, the 60-edge chain's contracted diameter stays well above
    # a 2-hop budget (max_iter=1).
    monkeypatch.setattr(D, "CC_EDGE_FOLD_MAX_EDGES", 0)  # past the r12 edge fold
    monkeypatch.setattr(D, "CC_DRIVER_FOLD_MAX_EDGES", 0)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    path_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "d1 long, d2 long"
    )
    try:
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(path_edges, max_iter=1)
        with _pytest.warns(RuntimeWarning, match="did not converge"):
            partial = connected_components(path_edges, max_iter=1, on_non_convergence="warn")
            assert partial.count() == 61  # partial labels still returned
        full = connected_components(path_edges)  # default budget converges
        assert full.groupBy("component").count().count() == 1
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def test_fork_multiple_return_branches_rejected(spark):
    import pytest as _pytest

    from pipe_s_spark.plans.runner import PipelineSpecError, run_pipeline

    spec = {
        "Input": {"Type": "parquet", "Config": {"sfDir": "/root/testdata/sf0.001", "table": "region"}},
        "Output": {
            "Type": "fork",
            "Outputs": [{"Output": {"Type": "return"}}, {"Output": {"Type": "return"}}],
        },
    }
    with _pytest.raises(PipelineSpecError, match="return"):
        run_pipeline(spark, spec)


def test_simhash64_matches_python_reference(spark):
    """The parametric simhash kernel matches a pure-Python reference at
    64 bits (incl. the two's-complement wrap for top-bit signatures)."""
    import hashlib

    from pipe_s_spark.functions.dedup import simhash

    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="zzzz qqqq xxxx"),
        Row(doc_id=3, text=""),
        Row(doc_id=4, text=None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text", bits=64).collect()}

    def ref(text):
        votes = [0] * 64
        for t in {t for t in (text or "").lower().split() if t}:
            h = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
            for j in range(64):
                votes[j] += 1 if (h >> j) & 1 else -1
        sig = sum(1 << j for j in range(64) if votes[j] > 0)
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    for r in rows:
        assert got[r.doc_id] == ref(r.text), r.doc_id

    # the empty and None docs hash alike
    assert got[3] == got[4]


def test_simhash_width_validation():
    import pytest as _pytest

    from pipe_s_spark.functions.dedup import simhash

    for bad in (0, 3, 65, 128):
        with _pytest.raises(ValueError):
            simhash(None, "doc_id", "text", bits=bad)


def test_scd2_history_semantics(spark):
    """Delete closes the open version without emitting a row; a later
    re-insert opens a fresh version; the last open version is current."""
    from pipe_s_spark.operators.history import scd2_history

    rows = [
        # (seq, op, pk, k, value, ts_ms) — single table
        (1, "insert", 7, 1, 1.0, 100),
        (2, "update", 7, 2, 2.0, 200),
        (3, "delete", 7, None, None, 300),
        (4, "insert", 7, 3, 3.0, 400),
        (5, "insert", 8, 9, 9.0, 150),
    ]
    log = spark.createDataFrame(
        [("t", str(s), s, op, pk, k, v, ts) for s, op, pk, k, v, ts in rows],
        "table_name string, id string, seq long, op string, pk long, k int, value double, ts_ms long",
    )
    got = {
        (r.pk, r.version): r
        for r in scd2_history(log).collect()
    }
    assert set(got) == {(7, 1), (7, 2), (7, 3), (8, 1)}
    v1, v2, v3 = got[(7, 1)], got[(7, 2)], got[(7, 3)]
    assert (v1.valid_from, v1.valid_to, v1.is_current) == (100, 200, False)
    # the delete at ts=300 closes version 2 without emitting a row
    assert (v2.valid_from, v2.valid_to, v2.is_current) == (200, 300, False)
    # re-insert opens version 3, still open
    assert (v3.valid_from, v3.valid_to, v3.is_current) == (400, None, True)
    assert got[(8, 1)].is_current


def test_snapshot_asof_semantics(spark):
    """Last-writer-wins at the cutoff; a winning delete hides the key;
    events after the cutoff are invisible."""
    from pipe_s_spark.operators.history import snapshot_asof

    rows = [
        (1, "insert", 7, 1, 1.0, 100),
        (2, "update", 7, 2, 2.0, 200),
        (3, "delete", 8, None, None, 250),   # 8 deleted before cutoff
        (4, "update", 7, 4, 4.0, 400),       # after cutoff: invisible
        (2, "insert", 8, 8, 8.0, 150),       # note: seq 2 on another key
    ]
    log = spark.createDataFrame(
        [("t", str(s), s, op, pk, k, v, ts) for s, op, pk, k, v, ts in rows],
        "table_name string, id string, seq long, op string, pk long, k int, value double, ts_ms long",
    )
    got = {r.pk: r for r in snapshot_asof(log, 3).collect()}
    assert set(got) == {7}
    assert (got[7].k, got[7].value, got[7].as_of_seq) == (2, 2.0, 2)

    # full-stream cutoff: pk 7 at seq 4, pk 8 still deleted
    got = {r.pk: r for r in snapshot_asof(log, 99).collect()}
    assert set(got) == {7}
    assert got[7].as_of_seq == 4


def test_scd2_current_versions_equal_head_snapshot(spark):
    """Cross-operator invariant: the open (is_current) SCD2 versions
    must carry exactly the payloads snapshot_asof reconstructs at the
    stream head — two independent formulations of 'live state'."""
    from pipe_s_spark.model import changelog_from_events
    from pipe_s_spark.operators.history import scd2_history, snapshot_asof
    from pipe_s_spark.sources import load_table

    log = changelog_from_events(load_table(spark, "/root/testdata/sf0.001", "events"))
    cur = {
        (r.table_name, r.pk): (r.k, r.value)
        for r in scd2_history(log).filter("is_current").collect()
    }
    head = log.agg(F.max("seq")).first()[0]
    snap = {
        (r.table_name, r.pk): (r.k, r.value)
        for r in snapshot_asof(log, int(head)).collect()
    }
    assert cur == snap and len(cur) > 0


def test_pagerank_int_matches_python_replica_random_graphs(spark):
    """Property test: the distributed integer PageRank equals a pure
    Python replica of the same fixed-point arithmetic on random
    weighted digraphs (seeded, 3 graphs) — and ranks stay positive and
    bounded by SCALE."""
    import random

    from pipe_s_spark.operators.graph import SCALE, SHARE_SCALE, pagerank_int

    def replica(edges, iters=5):
        nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
        n = len(nodes)
        base = (15 * SCALE) // (100 * n)
        wtot = {}
        for s, _, w in edges:
            wtot[s] = wtot.get(s, 0) + w
        share = [(s, d, (w * SHARE_SCALE) // wtot[s]) for s, d, w in edges]
        r = {v: SCALE // n for v in nodes}
        for _ in range(iters):
            contrib = {}
            for s, d, sh in share:
                contrib[d] = contrib.get(d, 0) + (r[s] * sh) // SHARE_SCALE
            r = {v: base + (85 * contrib.get(v, 0)) // 100 for v in nodes}
        return r

    rng = random.Random(7)
    for _ in range(3):
        n_nodes = rng.randint(4, 12)
        edges = sorted(
            {
                (rng.randrange(n_nodes), rng.randrange(n_nodes))
                for _ in range(rng.randint(5, 30))
            }
        )
        weighted = [(s, d, rng.randint(1, 50)) for s, d in edges]
        df = spark.createDataFrame(weighted, "src long, dst long, w long")
        got = {r["v"]: r["rank"] for r in pagerank_int(df, iters=5).collect()}
        want = replica(weighted)
        assert got == want
        assert all(0 < v <= SCALE for v in got.values())


def test_dquantiles_matches_builtin_percentile(spark):
    """functions.quantile.dquantiles (bounded-memory two-shuffle form)
    must reproduce the builtin in-memory percentile() exactly —
    including duplicate-heavy, negative, and single-row groups."""
    import random

    from pyspark.sql import functions as F

    from pipe_s_spark.functions.quantile import dquantiles

    rng = random.Random(11)
    rows = []
    for g in ("a", "b", "c"):
        for _ in range(rng.randint(1, 400)):
            # duplicates on purpose: quantize to .5 steps
            rows.append((g, round(rng.uniform(-50, 50) * 2) / 2))
    rows.append(("solo", 3.25))  # n=1 group: every quantile = the value
    df = spark.createDataFrame(rows, "k string, v double")
    qs = (0.0, 0.25, 0.5, 0.9, 1.0)
    got = {
        r["k"]: tuple(r[f"q{i}"] for i in range(len(qs)))
        for r in dquantiles(
            df, ["k"], "v", qs, aliases=[f"q{i}" for i in range(len(qs))], round_to=6
        ).collect()
    }
    want = {
        r["k"]: tuple(r[f"q{i}"] for i in range(len(qs)))
        for r in df.groupBy("k")
        .agg(
            *[
                F.round(F.expr(f"percentile(v, {q})"), 6).alias(f"q{i}")
                for i, q in enumerate(qs)
            ]
        )
        .collect()
    }
    assert got == want


def test_dquantiles_ignores_nulls(spark):
    from pipe_s_spark.functions.quantile import dquantiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None)], "k string, v double"
    )
    out = {r["k"]: r["p50"] for r in dquantiles(df, ["k"], "v", (0.5,)).collect()}
    assert out["a"] == 2.0
    assert "b" not in out or out["b"] is None


def test_dquantiles_bucketing_edge_cases(spark):
    """The range-bucketed decomposition must stay exact when the
    bucketing degenerates: constant groups (span=0 -> one bucket),
    one value holding 99% of the mass (one distinct row covers many
    target ranks), and values packed so tightly that float bucket
    boundaries collide."""
    from pyspark.sql import functions as F

    from pipe_s_spark.functions.quantile import dquantiles

    rows = []
    rows += [("const", 7.25)] * 50
    rows += [("skew", 1.0)] * 990 + [("skew", float(i)) for i in range(2, 12)]
    rows += [("tight", 1.0 + i * 1e-12) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, v double")
    qs = (0.01, 0.5, 0.99)
    aliases = ["a", "b", "c"]
    got = {
        r["k"]: (r["a"], r["b"], r["c"])
        for r in dquantiles(df, ["k"], "v", qs, aliases=aliases, round_to=8).collect()
    }
    want = {
        r["k"]: (r["a"], r["b"], r["c"])
        for r in df.groupBy("k")
        .agg(
            *[
                F.round(F.expr(f"percentile(v, {q})"), 8).alias(a)
                for q, a in zip(qs, aliases)
            ]
        )
        .collect()
    }
    assert got == want


def test_heavy_hitters_matches_exact_groupby(spark):
    """functions.sketches.heavy_hitters must equal the exact full
    groupBy filter for every k — including items straddling the n/k
    threshold and under adversarial partitioning (all copies of a
    heavy item in one partition)."""
    from pyspark.sql import functions as F

    from pipe_s_spark.functions.sketches import heavy_hitters

    rows = (
        [("a",)] * 300 + [("b",)] * 120 + [("c",)] * 80
        + [(f"x{i}",) for i in range(500)]
    )
    df = spark.createDataFrame(rows, "v string").repartition(8)
    for k in (3, 5, 10):
        got = {(r["v"], r["n"]) for r in heavy_hitters(df, "v", k=k).collect()}
        n = len(rows)
        want = {
            (r["v"], r["n"])
            for r in df.groupBy("v").agg(F.count(F.lit(1)).alias("n")).collect()
            if r["n"] * k > n
        }
        assert got == want, f"k={k}"
    # skewed layout: one partition holds every 'a'
    skew = df.repartition(4, F.when(F.col("v") == "a", F.lit(0)).otherwise(F.col("v")))
    got = {r["v"] for r in heavy_hitters(skew, "v", k=4).collect()}
    assert got == {"a"}
