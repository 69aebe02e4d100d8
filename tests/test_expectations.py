"""operators.expectations: the suite must count violations exactly,
fold every check into one aggregate pass, and never trigger a driver
action inside ``run``."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipe_s_spark.operators.expectations import ExpectationSuite, run_suites


def _report(df):
    return {r["check"]: (r["violations"], r["total"], r["passed"]) for r in df.collect()}


def test_row_checks_count_exact_violations(spark):
    df = spark.createDataFrame(
        [
            (1, "A", 5.0, "ok-1"),
            (2, None, -3.0, "ok-2"),
            (3, "B", 12.0, "bad"),
            (4, "Z", None, "ok-4"),
            (4, "A", 1.0, "ok-5"),
        ],
        "id long, cat string, v double, tag string",
    )
    rep = _report(
        ExpectationSuite("t")
        .not_null("cat")
        .in_set("cat", ["A", "B"])
        .in_range("v", lo=0.0, hi=10.0)
        .matches("tag", r"^ok-")
        .unique("id")
        .satisfies("v_positive", F.col("v") > 0)
        .run(df)
    )
    assert rep["not_null:cat"] == (1, 5, False)
    # null cat is not an in_set violation (not_null's business)
    assert rep["in_set:cat"] == (1, 5, False)
    # null v skipped; -3 below lo, 12 above hi
    assert rep["in_range:v"] == (2, 5, False)
    assert rep["matches:tag"] == (1, 5, False)
    assert rep["unique:id"] == (1, 5, False)
    # null predicate counts as violation: -3 fails, None fails
    assert rep["satisfies:v_positive"] == (2, 5, False)


def test_foreign_key_and_multi_table_union(spark):
    fact = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
    )
    dim = spark.createDataFrame([(10,), (20,), (20,)], "pk long")
    rep = _report(
        ExpectationSuite("fact").foreign_key("fk", dim, "pk").not_null("fk").run(fact)
    )
    # 99 misses; NULL fk is not an FK violation
    assert rep["foreign_key:fk"] == (1, 4, False)
    assert rep["not_null:fk"] == (1, 4, False)

    ok = spark.createDataFrame([(1,), (2,)], "id long")
    out = run_suites(
        [
            (ExpectationSuite("fact").not_null("fk"), fact),
            (ExpectationSuite("ok").not_null("id").unique("id"), ok),
        ]
    )
    rows = {(r["tbl"], r["check"]): r["passed"] for r in out.collect()}
    assert rows[("fact", "not_null:fk")] is False
    assert rows[("ok", "not_null:id")] is True
    assert rows[("ok", "unique:id")] is True


def test_single_scan_compilation(spark):
    """All row checks + unique + FK compile to one scan of the fact
    side: exactly one scan of `fact` appears in the physical plan and
    the FK dim arrives broadcast."""
    fact = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("fk"), (F.col("id") % 3).alias("c")
    )
    dim = spark.range(10).select(F.col("id").alias("pk"))
    rep = (
        ExpectationSuite("t")
        .not_null("c")
        .in_range("c", lo=0)
        .unique("id")
        .foreign_key("fk", dim, "pk")
        .run(fact)
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    rows = _report(rep)
    assert all(v[2] for v in rows.values())


def test_agg_between_table_level_checks(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (None,)], "v double")
    rep = _report(
        ExpectationSuite("t")
        .agg_between("mean_v", F.avg("v"), lo=1.5, hi=2.5)
        .agg_between("mean_v_tight", F.avg("v"), lo=2.1)
        .agg_between("null_agg", F.avg(F.lit(None).cast("double")), lo=0)
        .run(df)
    )
    assert rep["agg:mean_v"] == (0, 4, True)
    assert rep["agg:mean_v_tight"] == (1, 4, False)
    # a null aggregate is a failure, not a silent pass
    assert rep["agg:null_agg"] == (1, 4, False)


def test_suite_matches_pandas_referee_property(spark):
    """Property test: for random frames and random check parameters,
    the single-pass compiled suite must agree exactly with a row-wise
    pandas referee on every violation count."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows_strategy = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),          # id (dupes likely)
            st.one_of(st.none(), st.sampled_from(["A", "B", "C", "Zq"])),
            st.one_of(st.none(), st.floats(min_value=-50, max_value=50,
                                           allow_nan=False)),
        ),
        min_size=1,
        max_size=25,
    )

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(rows=rows_strategy,
           lo=st.floats(min_value=-20, max_value=0, allow_nan=False),
           hi=st.floats(min_value=1, max_value=20, allow_nan=False),
           allowed=st.sets(st.sampled_from(["A", "B", "C"]), min_size=1))
    def run(rows, lo, hi, allowed):
        df = spark.createDataFrame(rows, "id long, cat string, v double")
        rep = {
            r["check"]: r["violations"]
            for r in (
                ExpectationSuite("t")
                .not_null("cat")
                .in_set("cat", sorted(allowed))
                .in_range("v", lo=lo, hi=hi)
                .satisfies("v_pos", F.col("v") > 0)
                .unique("id")
                .run(df)
                .collect()
            )
        }
        want_null = sum(1 for _, c, _ in rows if c is None)
        want_set = sum(1 for _, c, _ in rows if c is not None and c not in allowed)
        want_rng = sum(
            1 for _, _, v in rows if v is not None and (v < lo or v > hi)
        )
        want_pos = sum(1 for _, _, v in rows if not (v is not None and v > 0))
        want_unq = len(rows) - len({(i, ) for i, _, _ in rows})
        assert rep["not_null:cat"] == want_null
        assert rep["in_set:cat"] == want_set
        assert rep["in_range:v"] == want_rng
        assert rep["satisfies:v_pos"] == want_pos
        assert rep["unique:id"] == want_unq

    run()


def test_unique_ignores_null_keys(spark):
    """NULL-key rows are not_null's business, not unique's: many NULL
    keys must NOT count as duplicates of each other (SQL
    COUNT(DISTINCT col) / Deequ semantics — struct(null) would
    otherwise make them one distinct group)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (None, "b"), (None, "c"), (None, None), (1, "a")],
        "id long, tag string",
    )
    rep = {
        r["check"]: (r["violations"], r["passed"])
        for r in (
            ExpectationSuite("t").unique("id").unique("id", "tag").run(df).collect()
        )
    }
    # non-null ids: [1, 2, 1] -> 3 rows, 2 distinct -> 1 violation;
    # the three NULL ids contribute nothing
    assert rep["unique:id"] == (1, False)
    # composite key: any NULL component excludes the row ->
    # [(1,a),(2,a),(1,a)] -> 1 violation
    assert rep["unique:id,tag"] == (1, False)
    # all-null keys only -> zero violations, check passes
    nulls = spark.createDataFrame(
        [(None,), (None,), (None,)], "id long"
    )
    rep2 = ExpectationSuite("t").unique("id").run(nulls).collect()[0]
    assert rep2["violations"] == 0 and bool(rep2["passed"])


def test_unique_rejected_for_row_tagging(spark):
    import pytest

    df = spark.range(3)
    with pytest.raises(ValueError):
        ExpectationSuite("t").unique("id").tag(df)


def test_tag_fk_on_stream_static_join(spark, tmp_path):
    """``tag`` runs on an unbounded stream: the FK check becomes a
    stream-static broadcast join. A null FK is not a violation; 99
    misses the dim."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10), (2, 99), (3, None)], "id long, fk long"
    ).coalesce(1).write.parquet(src)
    dim = spark.createDataFrame([(10,), (20,)], "pk long")
    stream = spark.readStream.schema("id long, fk long").parquet(src)
    tagged = ExpectationSuite("t").foreign_key("fk", dim, "pk").tag(stream)
    q = (
        tagged.writeStream.format("memory")
        .queryName("fk_tag_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    tags = {r["id"]: list(r["_violated"]) for r in spark.sql("SELECT * FROM fk_tag_out").collect()}
    assert tags == {1: [], 2: ["foreign_key:fk"], 3: []}
