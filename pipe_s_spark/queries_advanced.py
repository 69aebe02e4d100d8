"""Oracle-checked advanced operators: as-of join, range join, exact
percentiles, statistical aggregates, sampling-free distinct sketch
parity checks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipe_s_spark.operators.joins import asof_join, range_join_explode, range_join_uniform
from pipe_s_spark.sources import load_table


def q_asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the user's most recent
    click at-or-before it."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    # r15: direct filters — the former event_id self-joins (base ⋈
    # filtered ids, twice) re-scanned events three times and paid two
    # broadcast hash joins to express what a predicate on the same row
    # already says; event_id is the events PK, so inner-join-on-id ==
    # filter, row for row.
    purchases = base.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks = (
        base.filter(F.col("event_type") == "click")
        .drop("event_type")
        .withColumnRenamed("event_id", "click_id")
    )
    out = asof_join(
        purchases,
        clicks.select("user_id", F.col("ts_ms").alias("click_ts"), "click_id"),
        on=["user_id"],
        left_ts="ts_ms",
        right_ts="click_ts",
        right_value_cols=["click_id"],
    )
    return out.select("event_id", "user_id", "ts_ms", F.col("click_id_asof").alias("last_click_id"))


SQL_ASOF = """
WITH base AS (
    SELECT event_id, user_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,
           event_type
    FROM events WHERE event_type IN ('purchase', 'click')
),
tagged AS (
    SELECT event_id, user_id, ts_ms,
           CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side,
           CASE WHEN event_type = 'click' THEN event_id END AS click_id
    FROM base
),
filled AS (
    SELECT event_id, user_id, ts_ms, side,
           last_value(click_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_ms, side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
    FROM tagged
)
SELECT event_id, user_id, ts_ms, last_click_id
FROM filled WHERE side = 1
"""


def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform range join: parts into $100 retail-price bands
    (arithmetic bucketing replaces the nested-loop range predicate)."""
    part = load_table(spark, sf_dir, "part")
    banded = range_join_uniform(part, "p_retailprice", 100.0, 25)
    return (
        banded.filter(F.col("band_id").isNotNull())
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
    )


SQL_RANGE_BANDS = """
WITH bands AS (
    SELECT i AS band_id, i * 100.0 AS lo, (i + 1) * 100.0 AS hi
    FROM (SELECT unnest(generate_series(0, 24)) AS i)
)
SELECT b.band_id, COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM part p JOIN bands b
  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
GROUP BY b.band_id
"""


def q_range_join_explode_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General range join via interval explosion: lineitem quantities
    against non-uniform quantity tiers."""
    li = load_table(spark, sf_dir, "lineitem")
    tiers = spark.createDataFrame(
        [(0, 0.0, 10.0), (1, 10.0, 25.0), (2, 25.0, 40.0), (3, 40.0, 51.0)],
        "tier_id int, lo double, hi double",
    )
    joined = range_join_explode(
        li.select("l_quantity"), tiers, "l_quantity", "lo", "hi", bucket_width=10.0
    )
    return joined.groupBy("tier_id").agg(F.count(F.lit(1)).alias("n_items"))


SQL_RANGE_EXPLODE = """
WITH tiers AS (
    SELECT * FROM (VALUES (0, 0.0, 10.0), (1, 10.0, 25.0), (2, 25.0, 40.0), (3, 40.0, 51.0))
    AS t(tier_id, lo, hi)
)
SELECT t.tier_id, COUNT(*) AS n_items
FROM lineitem l JOIN tiers t ON l.l_quantity >= t.lo AND l.l_quantity < t.hi
GROUP BY t.tier_id
"""


def q_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of order value per status.

    Deliberately the NAIVE builtin form (per-group value buffer in
    executor memory) kept as the baseline; `percentiles_distributed`
    is the bounded-memory twin — same math, two-shuffle shape — that
    fact-table-sized groups must use (see functions.quantile)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


SQL_PERCENTILES = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4)  AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders
GROUP BY o_orderstatus
"""


def q_percentiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles via the BOUNDED-MEMORY distributed
    algorithm (functions.quantile.dquantiles): per-distinct-value
    counts + a partitioned cumulative window + one interpolating
    aggregate — no per-group value buffer anywhere, unlike the builtin
    ``percentile()`` which holds every group value in executor memory
    and cannot survive a billion-row group. The ORACLE is the plain
    ``quantile_cont``: like the salted-skew queries, the scale-hardened
    rewrite must be result-indistinguishable from the naive form."""
    from pipe_s_spark.functions.quantile import dquantiles

    li = load_table(spark, sf_dir, "lineitem")
    return dquantiles(
        li,
        keys=["l_returnflag"],
        value_col="l_extendedprice",
        qs=(0.25, 0.5, 0.75, 0.9),
        aliases=("p25", "p50", "p75", "p90"),
        round_to=4,
    )


SQL_PERCENTILES_DISTRIBUTED = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4)  AS p90
FROM lineitem
GROUP BY l_returnflag
"""


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (rounded: engines use different but
    numerically-close accumulation algorithms)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 8).alias("corr_qty_price"),
        F.round(F.covar_samp("l_discount", "l_tax"), 10).alias("cov_disc_tax"),
    )


SQL_STATS = """
SELECT l_returnflag,
       ROUND(stddev_samp(l_extendedprice), 4)        AS sd_price,
       ROUND(var_samp(l_quantity), 6)                AS var_qty,
       ROUND(corr(l_quantity, l_extendedprice), 8)   AS corr_qty_price,
       ROUND(covar_samp(l_discount, l_tax), 10)      AS cov_disc_tax
FROM lineitem
GROUP BY l_returnflag
"""


def q_window_dist_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 8).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 8).alias("cume"),
    )


SQL_WINDOW_DIST = """
SELECT o_orderkey, o_orderstatus,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 8) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 8) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
"""


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, value-bucket):
    the sort key that makes file min/max statistics prune on EITHER
    dimension (see sources.layout.zorder_key_sql / Delta's OPTIMIZE
    ZORDER). Pure bit arithmetic — narrow, codegen'd, oracle replays
    the key bit-for-bit."""
    from pipe_s_spark.sources.layout import zorder_key_sql

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.expr("CAST(FLOOR(value) AS BIGINT)").alias("vbucket"),
        F.expr(
            zorder_key_sql("user_id", "FLOOR(value)", bits=16, dialect="spark")
        ).alias("zkey"),
    )


def _sql_layout_zorder() -> str:
    from pipe_s_spark.sources.layout import zorder_key_sql

    z = zorder_key_sql("user_id", "FLOOR(value)", bits=16, dialect="duckdb")
    return f"""
SELECT event_id, user_id,
       CAST(FLOOR(value) AS BIGINT) AS vbucket,
       {z} AS zkey
FROM events
"""


SQL_LAYOUT_ZORDER = _sql_layout_zorder()


def q_stats_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the group-size distribution of
    lineitem.l_orderkey — the number every shuffle-sizing decision
    (salting, AQE skew thresholds, bucket counts) starts from. Two
    map-side-combinable aggregations; output is one row of BIGINTs
    plus interpolated percentiles rounded on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("sz").alias("n_rows"),
        F.max("sz").alias("max_sz"),
        F.round(F.expr("percentile(sz, 0.5)"), 4).alias("p50_sz"),
        F.round(F.expr("percentile(sz, 0.99)"), 4).alias("p99_sz"),
        F.expr("CAST((MAX(sz) * 1000000) DIV (SUM(sz) DIV COUNT(1)) AS BIGINT)").alias(
            "max_over_mean_x1m"
        ),
    )


SQL_STATS_KEY_SKEW = """
WITH sizes AS (
    SELECT l_orderkey, COUNT(*) AS sz FROM lineitem GROUP BY l_orderkey
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(sz) AS BIGINT) AS n_rows,
       MAX(sz) AS max_sz,
       ROUND(quantile_cont(sz, 0.5), 4)  AS p50_sz,
       ROUND(quantile_cont(sz, 0.99), 4) AS p99_sz,
       CAST((MAX(sz) * 1000000) // (SUM(sz) // COUNT(*)) AS BIGINT)
           AS max_over_mean_x1m
FROM sizes
"""


def q_join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: a bloom filter built from the selective dim
    side (urgent 1994 orders) prunes the fact scan BEFORE the shuffle
    join — the manual form of Spark's runtime bloom-filter pushdown
    (spark.sql.optimizer.runtime.bloomFilter.enabled), kept explicit
    and deterministic here so the oracle can verify the result. The
    probe is a narrow inlined-literal expression evaluated inside the
    fact scan stage, so at 100 TB only ~|dim-matching| + FP rows ever
    reach the exchange; false positives are then removed by the exact
    join (no false negatives by construction), making the result
    IDENTICAL to the plain join — which is exactly what the oracle
    runs."""
    from pipe_s_spark.functions import sketches as K
    from pipe_s_spark.functions.exact import dsum

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1994-01-01")
        & (F.col("o_orderdate") < "1995-01-01")
    ).select("o_orderkey")
    # filter bits: bounded driver collect (<= BLOOM_BITS positions —
    # metadata-scale, same policy as the IVF centroid literals)
    bits = K.bloom_bit_array(K.bloom_build(dim, "o_orderkey"))
    pruned = li.filter(K.bloom_might_contain(F.col("l_orderkey"), bits))
    return (
        pruned.join(dim, pruned.l_orderkey == dim.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            ),
        )
    )


SQL_JOIN_BLOOM_PRUNE = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN (SELECT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= DATE '1994-01-01'
        AND o_orderdate < DATE '1995-01-01') dim
  ON l_orderkey = o_orderkey
GROUP BY l_returnflag
"""


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_stats_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style numeric column profile of lineitem: one row per
    column with count / nulls / exact distinct / min / max / exact-
    decimal mean — the statistics a cost-based planner (or a data
    catalog) collects. Shape: a narrow k-way unpivot (k x row
    expansion, but map-side combine collapses each task's contribution
    to k rows before the shuffle) and one groupBy; the distinct count
    is the only data-sized shuffle, which is inherent to exactness —
    the sketched alternative is sketch_hll_distinct/sketch_kmv."""
    from pipe_s_spark.functions.exact import davg
    from pipe_s_spark.sizing import fan_out

    li = load_table(spark, sf_dir, "lineitem")
    # r15: the 4x unpivot expansion + count_distinct partial aggregate
    # ran inside the one scan task of the single-row-group input
    # (profiled: a 22 s 3-task stage on a cold heap); fan_out spreads
    # the expansion and the distinct hash-aggregate across cores via a
    # narrow keyed exchange of the 4 profiled columns — no-op at
    # cluster scale (sizing.fan_out).
    li = fan_out(
        li.select("l_orderkey", "l_linenumber", *_PROFILE_COLS),
        by=["l_orderkey", "l_linenumber"],
    )
    unp = li.unpivot(
        [],
        [F.col(c).cast("double").alias(c) for c in _PROFILE_COLS],
        "col",
        "v",
    )
    return unp.groupBy("col").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
        F.count_distinct("v").alias("n_distinct"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        davg("v", scale=6).alias("avg_v"),
    )


def _sql_stats_column_profile() -> str:
    from pipe_s_spark.functions.exact import davg_sql

    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col, CAST({c} AS DOUBLE) AS v FROM lineitem"
        for c in _PROFILE_COLS
    )
    return f"""
WITH u AS (
{arms}
)
SELECT col, COUNT(*) AS n,
       CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
       MIN(v) AS min_v, MAX(v) AS max_v,
       {davg_sql('v', 6)} AS avg_v
FROM u GROUP BY col
"""


def q_stats_median_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile companion to stats_column_profile: exact interpolated
    p25/p50/p75 per numeric lineitem column — the robust half of an
    ANALYZE pass (min/max/mean say little under skew; the quartiles
    are what histogram-free optimizers and data-quality monitors
    actually want). Runs on functions.quantile.dquantiles: the
    unpivoted relation is 4x the fact table with only 4 groups, the
    exact shape where the builtin percentile()'s per-group buffer and
    single-reducer sort both fail at scale."""
    from pipe_s_spark.functions.quantile import dquantiles

    li = load_table(spark, sf_dir, "lineitem")
    unp = li.unpivot(
        [],
        [F.col(c).cast("double").alias(c) for c in _PROFILE_COLS],
        "col",
        "v",
    )
    return dquantiles(
        unp, ["col"], "v", (0.25, 0.5, 0.75), aliases=("p25", "p50", "p75")
    )


def _sql_stats_median_profile() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col, CAST({c} AS DOUBLE) AS v FROM lineitem"
        for c in _PROFILE_COLS
    )
    return f"""
WITH u AS (
{arms}
)
SELECT col,
       ROUND(quantile_cont(v, 0.25), 4) AS p25,
       ROUND(quantile_cont(v, 0.5), 4)  AS p50,
       ROUND(quantile_cont(v, 0.75), 4) AS p75
FROM u GROUP BY col
"""


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-expectations report (the Deequ shape, see
    operators.expectations): nullability, uniqueness, value domains,
    ranges, format regexes, a custom invariant and referential
    integrity over orders / customer / documents — each table's whole
    suite compiled into ONE aggregate pass (row checks are conditional
    counts, unique is COUNT(*)-COUNT(DISTINCT) in the same agg, the FK
    check is a broadcast dim-key left join folded into the same scan).
    The c_acctbal >= 0 expectation genuinely fails on this corpus
    (negative balances exist) — the report shows real violation counts,
    not a wall of greens."""
    from pipe_s_spark.operators.expectations import ExpectationSuite, run_suites

    # r15: fan_out tried and REVERTED by interleaved A/B (1.747 vs
    # 1.552 median): each suite's aggregate collapses to one row
    # map-side (the count_distinct partial already shuffles only
    # distinct keys), so fanning shuffled full-width rows for nothing.
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    documents = load_table(spark, sf_dir, "documents")
    s_orders = (
        ExpectationSuite("orders")
        .not_null("o_orderkey")
        .unique("o_orderkey")
        .in_set("o_orderstatus", ["O", "F", "P"])
        .in_range("o_totalprice", lo=0.0)
        .matches("o_orderpriority", r"^[1-5]-")
        .agg_between("mean_totalprice", F.avg("o_totalprice"), lo=1000.0, hi=500000.0)
        .foreign_key("o_custkey", customer, "c_custkey")
    )
    s_customer = (
        ExpectationSuite("customer")
        .not_null("c_custkey")
        .unique("c_custkey")
        .in_set(
            "c_mktsegment",
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
        )
        .in_range("c_acctbal", lo=0.0)
    )
    s_documents = (
        ExpectationSuite("documents")
        .not_null("text")
        .unique("doc_id")
        .in_set("lang", ["en", "es", "zh", "de", "fr"])
        .satisfies("n_chars_consistent", F.col("n_chars") == F.length("text"))
    )
    return run_suites(
        [(s_orders, orders), (s_customer, customer), (s_documents, documents)]
    )


SQL_DQ_EXPECTATIONS = """
SELECT 'orders' AS tbl, 'not_null:o_orderkey' AS "check",
       COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS violations,
       COUNT(*) AS total,
       COUNT(*) FILTER (WHERE o_orderkey IS NULL) = 0 AS passed
FROM orders
UNION ALL
SELECT 'orders', 'unique:o_orderkey',
       COUNT(*) - COUNT(DISTINCT o_orderkey), COUNT(*),
       COUNT(*) - COUNT(DISTINCT o_orderkey) = 0
FROM orders
UNION ALL
SELECT 'orders', 'in_set:o_orderstatus',
       COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O','F','P')),
       COUNT(*),
       COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O','F','P')) = 0
FROM orders
UNION ALL
SELECT 'orders', 'in_range:o_totalprice',
       COUNT(*) FILTER (WHERE o_totalprice < 0),
       COUNT(*),
       COUNT(*) FILTER (WHERE o_totalprice < 0) = 0
FROM orders
UNION ALL
SELECT 'orders', 'matches:o_orderpriority',
       COUNT(*) FILTER (WHERE o_orderpriority IS NOT NULL
                          AND NOT regexp_matches(o_orderpriority, '^[1-5]-')),
       COUNT(*),
       COUNT(*) FILTER (WHERE o_orderpriority IS NOT NULL
                          AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) = 0
FROM orders
UNION ALL
SELECT 'orders', 'agg:mean_totalprice',
       CASE WHEN AVG(o_totalprice) BETWEEN 1000.0 AND 500000.0 THEN 0 ELSE 1 END,
       COUNT(*),
       AVG(o_totalprice) BETWEEN 1000.0 AND 500000.0
FROM orders
UNION ALL
SELECT 'orders', 'foreign_key:o_custkey',
       COUNT(*) FILTER (WHERE o_custkey IS NOT NULL
                          AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
       COUNT(*),
       COUNT(*) FILTER (WHERE o_custkey IS NOT NULL
                          AND o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
FROM orders
UNION ALL
SELECT 'customer', 'not_null:c_custkey',
       COUNT(*) FILTER (WHERE c_custkey IS NULL), COUNT(*),
       COUNT(*) FILTER (WHERE c_custkey IS NULL) = 0
FROM customer
UNION ALL
SELECT 'customer', 'unique:c_custkey',
       COUNT(*) - COUNT(DISTINCT c_custkey), COUNT(*),
       COUNT(*) - COUNT(DISTINCT c_custkey) = 0
FROM customer
UNION ALL
SELECT 'customer', 'in_set:c_mktsegment',
       COUNT(*) FILTER (WHERE c_mktsegment IS NOT NULL AND c_mktsegment NOT IN
           ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')),
       COUNT(*),
       COUNT(*) FILTER (WHERE c_mktsegment IS NOT NULL AND c_mktsegment NOT IN
           ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')) = 0
FROM customer
UNION ALL
SELECT 'customer', 'in_range:c_acctbal',
       COUNT(*) FILTER (WHERE c_acctbal < 0), COUNT(*),
       COUNT(*) FILTER (WHERE c_acctbal < 0) = 0
FROM customer
UNION ALL
SELECT 'documents', 'not_null:text',
       COUNT(*) FILTER (WHERE text IS NULL), COUNT(*),
       COUNT(*) FILTER (WHERE text IS NULL) = 0
FROM documents
UNION ALL
SELECT 'documents', 'unique:doc_id',
       COUNT(*) - COUNT(DISTINCT doc_id), COUNT(*),
       COUNT(*) - COUNT(DISTINCT doc_id) = 0
FROM documents
UNION ALL
SELECT 'documents', 'in_set:lang',
       COUNT(*) FILTER (WHERE lang IS NOT NULL
                          AND lang NOT IN ('en','es','zh','de','fr')),
       COUNT(*),
       COUNT(*) FILTER (WHERE lang IS NOT NULL
                          AND lang NOT IN ('en','es','zh','de','fr')) = 0
FROM documents
UNION ALL
SELECT 'documents', 'satisfies:n_chars_consistent',
       COUNT(*) FILTER (WHERE NOT COALESCE(n_chars = LENGTH(text), FALSE)),
       COUNT(*),
       COUNT(*) FILTER (WHERE NOT COALESCE(n_chars = LENGTH(text), FALSE)) = 0
FROM documents
"""


def q_dq_corpus_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table corpus integrity (operators.expectations): the
    documents <-> embeddings link checked BOTH ways — orphan
    embeddings (vec_id with no document) and unembedded documents
    (doc_id with no vector) — plus key uniqueness on each side: the
    four numbers that must be green before any doc-joined semantic
    query (dedup_ensemble, sim_* evals) can be trusted. Each
    direction is one broadcast-key left join folded into that table's
    single aggregate scan."""
    from pipe_s_spark.operators.expectations import ExpectationSuite, run_suites

    documents = load_table(spark, sf_dir, "documents")
    embeddings = load_table(spark, sf_dir, "embeddings")
    s_docs = (
        ExpectationSuite("documents")
        .unique("doc_id")
        .foreign_key("doc_id", embeddings, "vec_id")
    )
    s_emb = (
        ExpectationSuite("embeddings")
        .unique("vec_id")
        .foreign_key("vec_id", documents, "doc_id")
    )
    return run_suites([(s_docs, documents), (s_emb, embeddings)])


SQL_DQ_CORPUS_INTEGRITY = """
SELECT 'documents' AS tbl, 'unique:doc_id' AS "check",
       COUNT(*) - COUNT(DISTINCT doc_id) AS violations, COUNT(*) AS total,
       COUNT(*) - COUNT(DISTINCT doc_id) = 0 AS passed
FROM documents
UNION ALL
SELECT 'documents', 'foreign_key:doc_id',
       COUNT(*) FILTER (WHERE doc_id IS NOT NULL
                          AND doc_id NOT IN (SELECT vec_id FROM embeddings)),
       COUNT(*),
       COUNT(*) FILTER (WHERE doc_id IS NOT NULL
                          AND doc_id NOT IN (SELECT vec_id FROM embeddings)) = 0
FROM documents
UNION ALL
SELECT 'embeddings', 'unique:vec_id',
       COUNT(*) - COUNT(DISTINCT vec_id), COUNT(*),
       COUNT(*) - COUNT(DISTINCT vec_id) = 0
FROM embeddings
UNION ALL
SELECT 'embeddings', 'foreign_key:vec_id',
       COUNT(*) FILTER (WHERE vec_id IS NOT NULL
                          AND vec_id NOT IN (SELECT doc_id FROM documents)),
       COUNT(*),
       COUNT(*) FILTER (WHERE vec_id IS NOT NULL
                          AND vec_id NOT IN (SELECT doc_id FROM documents)) = 0
FROM embeddings
"""


def q_agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation over lineitem's three heavy-hitter
    return-flag groups (operators.skew.salted_agg): phase 1 aggregates
    (key, salt) so one hot key spreads across 16 reducers, phase 2
    folds the ≤16 partials — the explicit mitigation for keys whose
    rows exceed one executor even after AQE splits. The oracle is the
    PLAIN group-by: salting must be invisible in the result, which the
    decimal-exact sums make bit-checkable."""
    from pipe_s_spark.operators import salted_agg

    # r15: fan_out tried and REVERTED by interleaved A/B (1.444 vs
    # 1.187 median): phase 1's partial aggregate collapses the scan to
    # <= 3 x 16 (key, salt) rows map-side, so the plain plan's shuffle
    # is ~48 rows — fanning replaced it with a 600k-row raw exchange
    # (guide §2: shuffle fewer bytes beats more parallelism here).
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_extendedprice").alias("praw"),
    )
    out = salted_agg(
        li,
        keys=["l_returnflag"],
        sum_cols=["qty", "price"],
        count_alias="n_rows",
        min_cols=["praw"],
        max_cols=["praw"],
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        "n_rows",
        F.round(F.col("sum_qty").cast("double"), 2).alias("sum_qty"),
        F.round(F.col("sum_price").cast("double"), 2).alias("sum_price"),
        F.col("min_praw").alias("min_price"),
        F.col("max_praw").alias("max_price"),
    )


SQL_AGG_SALTED_SKEW = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag
"""


def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED equi-join (operators.skew.salted_join): lineitem joins
    part on a salted (partkey, salt) key — each hot part key lands on
    16 reducers, with the part side replicated 16x through a narrow
    explode (the other-side-too-big-to-broadcast, hot-probe-key case
    AQE's skew handling can't always fix). The oracle is the plain
    join + aggregate: salting must be result-invisible. Revenue sums
    are decimal-exact so the check is bit-strict."""
    from pipe_s_spark.operators import salted_join
    from pipe_s_spark.sizing import fan_out

    # r15: the whole salted join + brand aggregate pipelined into the
    # single-row-group lineitem scan (profiled: one 3-task stage, 729 ms
    # serial CPU, zero shuffle — the replicated part side broadcasts, so
    # nothing else forces parallelism). Keyed fan_out spreads the probe
    # side; no-op at cluster scale (sizing.fan_out).
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        ),
        by=["p_partkey"],
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, part, on=["p_partkey"], n_salts=16)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("price").cast("double"), 2).alias("revenue"),
    )


SQL_JOIN_SALTED_SKEW = """
SELECT p.p_brand,
       COUNT(*) AS n_lines,
       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


#: Max parts per order admitted to pair generation — the same bounded
#: fan-out guard as the dedup posting lists (one 10k-item order would
#: otherwise emit C(10k,2) pairs on one key).
BASKET_CAP = 50


def q_orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs most often bought
    together, with support counts and integer-micro-unit LIFT. Same
    shuffle-minimal shape as the dedup posting lists: ONE groupBy
    builds each order's sorted item set (collect_set dedups, so no
    separate distinct shuffle), and supports, the basket count, and
    the pair counts all derive from that one aggregate — the three
    branches share an identical scan+shuffle subplan, so ReuseExchange
    runs it once per action instead of three scans + a separate
    count() job. Pairs generate NARROWLY from the (capped) array (no
    self-join of lineitem); the basket total rides along as a
    broadcast single-row aggregate instead of a driver literal."""
    # r15: fan_out keyed on the basket key — the exchange is exactly
    # the groupBy's required distribution, so the collect_set aggregate
    # (the heavy stage) runs at session parallelism off the single scan
    # task; no-op at cluster scale (sizing.fan_out).
    from pipe_s_spark.sizing import fan_out

    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        by=["l_orderkey"],
    )
    # r15: baskets_all feeds THREE branches (supports, basket count,
    # pair generation); exchange reuse dedups the shuffle but each
    # consumer re-ran the reduce-side collect_set aggregate — profiled
    # 36 s of task runtime (14 s CPU, the rest set-building GC churn)
    # on the first of three copies. One materialization (bounded by
    # |orders| — the basket table is the artifact this query is about),
    # three cheap reads.
    baskets_all = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .localCheckpoint(eager=True)
    )
    supports = (
        baskets_all.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    nb = baskets_all.agg(F.count(F.lit(1)).alias("n_baskets"))
    baskets = baskets_all.filter(
        (F.size("items") >= 2) & (F.size("items") <= BASKET_CAP)
    )
    x = baskets.select(F.posexplode("items").alias("i", "p1"), "items")
    pairs = x.select(
        "p1",
        F.explode(F.slice(F.col("items"), F.col("i") + F.lit(2), F.size("items"))).alias("p2"),
    )
    top = (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_together"))
        .orderBy(F.desc("n_together"), "p1", "p2")
        .limit(20)
    )
    s1 = supports.select(F.col("l_partkey").alias("p1"), F.col("n_orders").alias("s1"))
    s2 = supports.select(F.col("l_partkey").alias("p2"), F.col("n_orders").alias("s2"))
    return (
        top.join(F.broadcast(s1), "p1")
        .join(F.broadcast(s2), "p2")
        .crossJoin(F.broadcast(nb))
        .select(
            "p1",
            "p2",
            "n_together",
            F.expr("CAST(n_together * n_baskets * 1000000 DIV (s1 * s2) AS BIGINT)")
            .alias("lift_x1m"),
        )
    )


def _sql_orders_market_basket() -> str:
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
supports AS (SELECT l_partkey, COUNT(*) AS n_orders FROM li GROUP BY l_partkey),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM li),
baskets AS (
    SELECT l_orderkey, list_sort(list(l_partkey)) AS items
    FROM li GROUP BY l_orderkey
    HAVING COUNT(*) BETWEEN 2 AND {BASKET_CAP}
),
pairs AS (
    SELECT items[i] AS p1, items[j] AS p2
    FROM baskets,
         LATERAL (SELECT unnest(range(1, len(items) + 1)) AS i),
         LATERAL (SELECT unnest(range(1, len(items) + 1)) AS j)
    WHERE j > i
),
top AS (
    SELECT p1, p2, COUNT(*) AS n_together
    FROM pairs GROUP BY p1, p2
    ORDER BY n_together DESC, p1, p2
    LIMIT 20
)
SELECT t.p1, t.p2, t.n_together,
       CAST(t.n_together * nb.n_baskets * 1000000
            // (s1.n_orders * s2.n_orders) AS BIGINT) AS lift_x1m
FROM top t
JOIN supports s1 ON s1.l_partkey = t.p1
JOIN supports s2 ON s2.l_partkey = t.p2
CROSS JOIN nb
"""


def q_supplier_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational lag per supplier: order-to-ship latency summary
    (exact integer-day mean via DIV, exact interpolated p90) with the
    nation dimension broadcast — the supplier-scorecard query. One
    fact-fact equi-join on the order key, then a supplier-keyed
    aggregate."""
    from pipe_s_spark.sizing import fan_out

    # r15: fan_out keyed on the aggregate key — the percentile()
    # partial (per-supplier value buffers) leaves the single scan task
    # and the exchange is reused by groupBy(l_suppkey). No-op at scale.
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", F.to_date("l_shipdate").alias("ship_d")
        ),
        by=["l_suppkey"],
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("order_d")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lag = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select("l_suppkey", F.datediff("ship_d", "order_d").cast("long").alias("lag_d"))
    )
    per_supp = lag.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr("CAST(SUM(lag_d) DIV COUNT(1) AS BIGINT)").alias("mean_lag_d"),
        F.round(F.expr("percentile(lag_d, 0.9)"), 4).alias("p90_lag_d"),
    )
    return (
        per_supp.join(
            F.broadcast(supplier), per_supp["l_suppkey"] == supplier["s_suppkey"]
        )
        .join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
        .select("s_name", "n_name", "n_lines", "mean_lag_d", "p90_lag_d")
    )


SQL_SUPPLIER_FULFILLMENT_LAG = """
WITH lag AS (
    SELECT l.l_suppkey,
           CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_d
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per_supp AS (
    SELECT l_suppkey,
           COUNT(*) AS n_lines,
           CAST(SUM(lag_d) // COUNT(*) AS BIGINT) AS mean_lag_d,
           ROUND(quantile_cont(lag_d, 0.9), 4) AS p90_lag_d
    FROM lag GROUP BY l_suppkey
)
SELECT s.s_name, n.n_name, p.n_lines, p.mean_lag_d, p.p90_lag_d
FROM per_supp p
JOIN supplier s ON p.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
"""


def q_stats_brand_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration audit: the Herfindahl-Hirschman index of
    brand share within each part type, in integer micro-units (share
    and HHI never touch a float) — the \"is this segment dominated by
    one supplier\" screen. One groupBy + an unordered partition window
    for the type totals; output is O(types)."""
    part = load_table(spark, sf_dir, "part")
    from pyspark.sql.window import Window as W

    counts = part.groupBy("p_type", "p_brand").agg(F.count(F.lit(1)).alias("c"))
    wt = W.partitionBy("p_type")
    shares = counts.withColumn("total", F.sum("c").over(wt)).withColumn(
        "share_x1m", F.expr("CAST(c * 1000000 DIV total AS BIGINT)")
    )
    return shares.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_brands"),
        F.max("total").alias("n_parts"),
        F.expr("CAST(SUM(share_x1m * share_x1m) DIV 1000000 AS BIGINT)").alias(
            "hhi_x1m"
        ),
    )


SQL_STATS_BRAND_CONCENTRATION = """
WITH counts AS (
    SELECT p_type, p_brand, COUNT(*) AS c FROM part GROUP BY p_type, p_brand
),
shares AS (
    SELECT p_type, c,
           SUM(c) OVER (PARTITION BY p_type) AS total,
           CAST(c * 1000000 // SUM(c) OVER (PARTITION BY p_type) AS BIGINT) AS share_x1m
    FROM counts
)
SELECT p_type,
       COUNT(*) AS n_brands,
       CAST(MAX(total) AS BIGINT) AS n_parts,
       CAST(SUM(share_x1m * share_x1m) // 1000000 AS BIGINT) AS hhi_x1m
FROM shares GROUP BY p_type
"""


def q_stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over order totals — the classic
    anomaly sniff test for synthetic/fabricated numeric columns. One
    narrow digit extraction + a 9-row groupBy; observed shares and the
    Benford expectation both in integer micro-units."""
    import math

    orders = load_table(spark, sf_dir, "orders")
    digits = orders.select(
        F.substring(F.abs(F.col("o_totalprice")).cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    ).filter(F.col("digit").between(1, 9))
    total = digits.count()
    expected = {
        d: int(math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
    }
    exp_col = F.create_map(
        *[F.lit(x) for kv in expected.items() for x in kv]
    )
    return (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "digit",
            "n",
            F.expr(f"CAST(n * 1000000 DIV {total} AS BIGINT)").alias("observed_x1m"),
            exp_col[F.col("digit")].cast("bigint").alias("benford_x1m"),
        )
    )


def _sql_stats_benford() -> str:
    import math

    arms = " ".join(
        f"WHEN {d} THEN {int(math.log10(1 + 1 / d) * 1_000_000)}" for d in range(1, 10)
    )
    return f"""
WITH digits AS (
    SELECT CAST(substr(CAST(ABS(o_totalprice) AS VARCHAR), 1, 1) AS INTEGER) AS digit
    FROM orders
),
d AS (SELECT digit FROM digits WHERE digit BETWEEN 1 AND 9),
total AS (SELECT COUNT(*) AS t FROM d)
SELECT digit, COUNT(*) AS n,
       CAST(COUNT(*) * 1000000 // MAX(total.t) AS BIGINT) AS observed_x1m,
       CAST(CASE digit {arms} END AS BIGINT) AS benford_x1m
FROM d CROSS JOIN total
GROUP BY digit
"""


def q_time_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event revenue — the one-number
    seasonality probe a forecasting pipeline starts from. Daily totals
    are DECIMAL-exact; consecutive days pair via a self-join on day+1
    (tiny table); the Pearson correlation over the paired series uses
    the same decimal-exact closed form as stats_regression."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("rev")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    paired = a.join(b, F.date_add(F.col("a.d"), 1) == F.col("b.d")).select(
        F.col("a.rev").alias("x"), F.col("b.rev").alias("y")
    )
    m = paired.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    return m.select(
        "n",
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("lag1_autocorr"),
    )


SQL_TIME_AUTOCORR = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, SUM(CAST(value AS DECIMAL(18,2))) AS rev
    FROM events GROUP BY CAST(ts AS DATE)
),
paired AS (
    SELECT a.rev AS x, b.rev AS y
    FROM daily a JOIN daily b ON a.d + 1 = b.d
),
m AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           CAST(SUM(y * y) AS DOUBLE) AS syy
    FROM paired
)
SELECT n,
       ROUND((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS lag1_autocorr
FROM m
"""


QUERIES = {
    q_asof_join_purchase_click: SQL_ASOF,
    q_agg_salted_skew: SQL_AGG_SALTED_SKEW,
    q_join_salted_skew: SQL_JOIN_SALTED_SKEW,
    q_orders_market_basket: _sql_orders_market_basket(),
    q_stats_benford: _sql_stats_benford(),
    q_stats_brand_concentration: SQL_STATS_BRAND_CONCENTRATION,
    q_supplier_fulfillment_lag: SQL_SUPPLIER_FULFILLMENT_LAG,
    q_time_autocorr: SQL_TIME_AUTOCORR,
    q_join_bloom_prune: SQL_JOIN_BLOOM_PRUNE,
    q_stats_column_profile: _sql_stats_column_profile(),
    q_layout_zorder: SQL_LAYOUT_ZORDER,
    q_stats_key_skew: SQL_STATS_KEY_SKEW,
    q_range_join_price_bands: SQL_RANGE_BANDS,
    q_range_join_explode_quantity: SQL_RANGE_EXPLODE,
    q_percentiles_exact: SQL_PERCENTILES,
    q_percentiles_distributed: SQL_PERCENTILES_DISTRIBUTED,
    q_stats_median_profile: _sql_stats_median_profile(),
    q_dq_expectations: SQL_DQ_EXPECTATIONS,
    q_dq_corpus_integrity: SQL_DQ_CORPUS_INTEGRITY,
    q_stats_agg: SQL_STATS,
    q_window_dist_funcs: SQL_WINDOW_DIST,
}
