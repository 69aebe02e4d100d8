"""Oracle-checked analytics surface: joins, aggregations, windows,
sorts, set ops, scalar/JSON/date functions, event-time windows.

The reference implements none of these (SURVEY.md §2.9) — its rebuilt
engine covers them with Spark built-ins, exercised here over the
TPC-H-ish testdata and checked against DuckDB.

Plan-quality notes (verified via .explain("formatted")):
- dimension joins (region/nation/customer/supplier) are broadcast —
  no shuffle of the fact table;
- aggregates are partial (map-side combine) before the key shuffle;
- filters and column pruning reach the parquet scan (PushedFilters /
  ReadSchema);
- top-k uses TakeOrderedAndProject (no global sort materialization).

Cross-engine float policy: see functions.exact — fixed-decimal inputs
are aggregated as DECIMAL (exact, order-independent) and the result is
cast back to double, giving bit-exact parity with the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipe_s_spark.functions.exact import davg, davg_sql, dsum, dsum_sql
from pipe_s_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


# --- TPC-H-style core ----------------------------------------------------


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan-heavy group-agg; partial agg + 6-group shuffle.

    r15: the 8 exact-decimal aggregates were pipelined into the scan
    task (single-row-group input -> 1-task stage, profiled 0.96 s of
    serial decimal math); fan_out spreads them over the cores via a
    narrow keyed exchange — a no-op at cluster scale (sizing.fan_out),
    where the scan itself provides the parallelism."""
    from pipe_s_spark.sizing import fan_out

    (li,) = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    li = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    )
    return (
        fan_out(li, by=["l_orderkey"])
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, scale=4).alias("sum_disc_price"),
            dsum(charge, scale=6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
       {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       {davg_sql('l_quantity')} AS avg_qty,
       {davg_sql('l_extendedprice')} AS avg_price,
       {davg_sql('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: broadcast the filtered customer dim; top-10 revenue."""
    customer, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias("revenue"))
        .select(
            "l_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_ms"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


SQL_Q3 = f"""
SELECT l_orderkey,
       CAST(epoch_ms(o_orderdate) AS BIGINT) AS o_orderdate_ms,
       o_orderpriority,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: five-way join; all dims broadcast, one fact shuffle."""
    region, nation, customer, supplier, orders, li = _t(
        spark, sf_dir, "region", "nation", "customer", "supplier", "orders", "lineitem"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias("revenue"))
    )


SQL_Q5 = f"""
SELECT n_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter-agg; predicates pushed to parquet."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), scale=4).alias("revenue"))
    )


SQL_Q6 = f"""
SELECT {dsum_sql('l_extendedprice * l_discount', 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue per customer, top 20."""
    customer, orders, li, nation = _t(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


SQL_Q10 = f"""
SELECT c_custkey, c_name, n_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- grouping sets / windows / sorts / set ops ---------------------------


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region->nation hierarchy (customer counts)."""
    # r15: fan_out tried and REVERTED by interleaved A/B (0.642 vs
    # 0.541 median) — same map-side-combine argument as agg_cube.
    region, nation, customer = _t(spark, sf_dir, "region", "nation", "customer")
    joined = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal").alias("sum_acctbal"),
    )


SQL_AGG_ROLLUP = f"""
SELECT r_name, n_name, COUNT(*) AS n_customers,
       {dsum_sql('c_acctbal')} AS sum_acctbal
FROM customer, nation, region
WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over order status x priority."""
    # r15: fan_out tried and REVERTED by interleaved A/B (0.703 vs
    # 0.643 median): the cube's partial aggregate collapses 150k rows
    # to <= 36 map-side, so the plain plan shuffles almost nothing —
    # fanning traded that for a raw-row exchange (guide §2: shuffle
    # fewer bytes beats more parallelism here).
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_total"),
    )


SQL_AGG_CUBE = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    per (status, priority), per status alone, and the grand total — but
    NOT per priority alone, which is what distinguishes this from CUBE.
    Uses the DataFrame groupingSets API so the plan is a single Expand +
    one aggregation (one shuffle), not a union of three scans."""
    # r15: fan_out tried and REVERTED — same map-side-combine argument
    # as agg_cube (see there).
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_total"),
    )


SQL_AGG_GROUPING_SETS = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice (rank window)."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk", "o_totalprice")
    )


SQL_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, rk, o_totalprice
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rk
    FROM orders
) WHERE rk <= 3
"""


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer revenue (cumulative frame window)."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_total"),
    )


SQL_WINDOW_RUNNING = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
"""


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-gap analysis: days since a customer's previous order."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).cast("int").alias("days_since_prev"),
    )


SQL_WINDOW_LAG = """
SELECT o_custkey, o_orderkey,
       CAST(datediff('day',
            LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
            o_orderdate) AS INTEGER) AS days_since_prev
FROM orders
"""


def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 lineitems — TakeOrderedAndProject, no full sort."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


SQL_TOPK_GLOBAL = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers without orders (EXCEPT) vs with big orders (INTERSECT),
    tagged and unioned."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    all_c = customer.select("c_custkey")
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    big = (
        orders.filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    no_orders = all_c.exceptAll(with_orders).distinct().withColumn("tag", F.lit("no_orders"))
    big_and_known = all_c.intersect(big).withColumn("tag", F.lit("big_spender"))
    return no_orders.unionByName(big_and_known)


SQL_SET_OPS = """
SELECT c_custkey, 'no_orders' AS tag FROM (
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders
)
UNION ALL
SELECT c_custkey, 'big_spender' AS tag FROM (
    SELECT c_custkey FROM customer
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000
)
"""


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group + conditional counts."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_big"),
    )


SQL_DISTINCT_AGG = """
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders,
       COUNT(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_big
FROM orders
GROUP BY o_orderstatus
"""


# --- scalar / JSON / date functions --------------------------------------


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar function coverage over part."""
    (part,) = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 12).alias("name_prefix"),
        F.length("p_type").cast("bigint").alias("type_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.abs(F.col("p_size") - 25).cast("bigint").alias("size_dist"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("marked_up"),
        (F.col("p_partkey") % 7).cast("bigint").alias("bucket"),
    )


SQL_SCALAR_FUNCS = """
SELECT p_partkey,
       UPPER(p_brand)                       AS brand_upper,
       LOWER(p_type)                        AS type_lower,
       SUBSTR(p_name, 1, 12)                AS name_prefix,
       CAST(LENGTH(p_type) AS BIGINT)       AS type_len,
       CONCAT_WS('|', p_brand, p_type)      AS brand_type,
       CAST(ABS(p_size - 25) AS BIGINT)     AS size_dist,
       ROUND(p_retailprice * 1.1, 2)        AS marked_up,
       CAST(p_partkey % 7 AS BIGINT)        AS bucket
FROM part
"""


def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events props column."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"),
    ).filter(F.col("k").isNotNull())


SQL_JSON_FUNCS = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
"""


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + month bucketing of orders."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").cast("int").alias("yy"),
            F.month("o_orderdate").cast("int").alias("mm"),
            F.quarter("o_orderdate").cast("int").alias("qq"),
            "o_totalprice",
        )
        .groupBy("yy", "mm", "qq")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("sum_total"))
    )


SQL_DATE_FUNCS = f"""
SELECT CAST(year(o_orderdate) AS INTEGER)    AS yy,
       CAST(month(o_orderdate) AS INTEGER)   AS mm,
       CAST(quarter(o_orderdate) AS INTEGER) AS qq,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_total
FROM orders
GROUP BY 1, 2, 3
"""


def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts by type."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


SQL_PIVOT = """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error
FROM events
GROUP BY user_id
"""


def q_unpivot_lineitem_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide->long melt): per-lineitem charge components as
    (metric, amount) rows — the inverse of pivot, a narrow map-side
    expansion (no shuffle until the downstream agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    # r15: fan_out — the 2x unpivot expansion and the exact-decimal
    # partial sums ran pipelined into the single scan task (profiled
    # as one 1.0 s single-task job); no-op at cluster scale.
    from pipe_s_spark.sizing import fan_out

    li = fan_out(
        li.select("l_orderkey", "l_linenumber", "l_discount", "l_tax"),
        by=["l_orderkey", "l_linenumber"],
    )
    melted = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_discount", "l_tax"],
        "metric",
        "amount",
    )
    return melted.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("amount").alias("total"),
    )


SQL_UNPIVOT = f"""
WITH melted AS (
    SELECT l_orderkey, l_linenumber, 'l_discount' AS metric, l_discount AS amount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
)
SELECT metric, COUNT(*) AS n, {dsum_sql('amount')} AS total
FROM melted GROUP BY metric
"""


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-user event-value sum over the
    trailing 10 minutes (range frame on epoch seconds — peers by value
    distance, not row count; the shape behind trailing-window feature
    engineering)."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-600, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("trailing_10m"),
    )


SQL_WINDOW_RANGE = """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
           PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
           RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_10m
FROM events
"""


def q_full_outer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nations' high-balance customer counts vs
    high-balance supplier counts — either side may be absent, both
    sides survive (shuffle join on the key; no broadcast for outer
    completeness)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 7000)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 7000)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    j = cust.join(supp, cust["c_nationkey"] == supp["s_nationkey"], "full_outer")
    return j.select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        "n_cust",
        "n_supp",
    )


SQL_FULL_OUTER = """
WITH cust AS (
    SELECT c_nationkey, COUNT(*) AS n_cust FROM customer WHERE c_acctbal > 7000 GROUP BY c_nationkey
),
supp AS (
    SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier WHERE s_acctbal > 7000 GROUP BY s_nationkey
)
SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey, n_cust, n_supp
FROM cust FULL OUTER JOIN supp ON c_nationkey = s_nationkey
"""


# --- event-time windows --------------------------------------------------


def q_time_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (batch form of the streaming
    windowed agg; same expression works under readStream+watermark)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("window_start_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


SQL_TIME_TUMBLING = f"""
SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS window_start_ms,
       event_type,
       COUNT(*) AS n,
       {dsum_sql('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_time_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min size, 5 min slide) over event time."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis(F.col("w.start").cast("timestamp")).alias("window_start_ms"), "n")
    )


SQL_TIME_SLIDING = """
WITH buckets AS (
    -- integer ms arithmetic: nested floors (us->ms->5min grid) compose
    -- exactly, matching Spark's window alignment
    SELECT CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events
),
expanded AS (
    SELECT ms - (ms % 300000) AS window_start_ms FROM buckets
    UNION ALL
    SELECT ms - (ms % 300000) - 300000 AS window_start_ms FROM buckets
)
SELECT CAST(window_start_ms AS BIGINT) AS window_start_ms, COUNT(*) AS n
FROM expanded
GROUP BY 1
"""


def q_time_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user — Spark's native
    session_window; oracle reconstructs sessions via lag+cumsum."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("session_start_ms"),
            "n_events",
            "sum_value",
        )
    )


SQL_TIME_SESSION = f"""
WITH marked AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM events
),
sessioned AS (
    SELECT user_id, ts, value,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
)
SELECT user_id,
       CAST(epoch_ms(MIN(ts)) AS BIGINT) AS session_start_ms,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM sessioned
GROUP BY user_id, sid
"""


def q_time_rollup_hour_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity event-time rollup (the hypertable continuous-
    aggregate shape): one pass produces per-(day,hour), per-day and
    grand totals via ROLLUP grouping sets — partial aggregation
    map-side, a single shuffle regardless of granularity count."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.withColumn("day", F.date_trunc("day", "ts")).withColumn(
        "hour", F.date_trunc("hour", "ts")
    )
    return (
        g.rollup("day", "hour")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.unix_millis(F.col("day").cast("timestamp")).alias("day_ms"),
            F.unix_millis(F.col("hour").cast("timestamp")).alias("hour_ms"),
            "n",
            "sum_value",
        )
    )


SQL_TIME_ROLLUP = f"""
SELECT CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms,
       CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS hour_ms,
       COUNT(*) AS n,
       {dsum_sql('value')} AS sum_value
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
"""


def q_time_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: the per-event-type hourly count series with
    MISSING HOURS MATERIALIZED (zero-filled) and a forward-filled
    last-observation column — the densification step every downstream
    window/forecast consumer assumes has happened. Shape: hourly groupBy
    (map-side combine), per-type bounds agg, a narrow per-type
    sequence explode (|hours| rows per type, never event-sized), one
    left join back, and a PARTITIONED ffill window."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    series = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
    )
    filled = series.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        F.unix_millis(F.col("hour").cast("timestamp")).alias("hour_ms"),
        F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n"),
        F.col("n_obs").isNull().alias("was_gap"),
        F.last("n_obs", ignorenulls=True).over(w).cast("bigint").alias("ffill_n"),
    )


SQL_TIME_GAP_FILL = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n_obs
    FROM events GROUP BY event_type, hour
),
bounds AS (
    SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY event_type
),
series AS (
    SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
    FROM bounds
),
filled AS (
    SELECT s.event_type, s.hour, h.n_obs
    FROM series s LEFT JOIN hourly h USING (event_type, hour)
)
SELECT event_type,
       CAST(epoch_ms(CAST(hour AS TIMESTAMP)) AS BIGINT) AS hour_ms,
       CAST(COALESCE(n_obs, 0) AS BIGINT) AS n,
       n_obs IS NULL AS was_gap,
       CAST(last_value(n_obs IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ffill_n
FROM filled
"""


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function coverage over the embedding column:
    transform / filter / aggregate (fold) / element access — all
    narrow JVM expressions (the idiom the similarity kernels build on)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(v, lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        ).alias("l2_norm"),
        F.size(F.filter(v, lambda x: x > 0)).cast("bigint").alias("n_positive"),
        F.round(F.array_max(v), 6).alias("max_elem"),
        F.round(F.element_at(v, 1), 6).alias("first_elem"),
    )


SQL_ARRAY_FUNCS = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       ROUND(sqrt(list_sum(list_transform(embedding,
                                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
             6) AS l2_norm,
       CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0)) AS BIGINT)
           AS n_positive,
       ROUND(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)
           AS max_elem,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem
FROM embeddings
"""


def q_stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression (extendedprice on quantity) computed
    from DECIMAL-exact moment sums — the grouped closed-form
    regr_slope/regr_intercept/regr_r2, but order-independent and so
    bit-identical under any partitioning (the builtin regr_* aggregate
    accumulates doubles and is partition-order sensitive). One
    map-side-combinable aggregation; the closed-form scalar arithmetic
    afterward is deterministic IEEE.

    r15: the decimal casts/multiplies are ~20x a long sum per row and
    were pipelined into the scan (one task on a single-row-group file
    — profiled 1.9 s with 31 cores idle); fan_out moves them onto a
    keyed exchange of the 3 narrow columns (no-op at cluster scale,
    see sizing.fan_out). Keyed by l_orderkey, not the 3-value group
    key: decimal sums are order-independent, so placement is free."""
    from pipe_s_spark.sizing import fan_out

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    m = fan_out(li, by=["l_orderkey"]).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sx"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sy"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(30,4)")).alias("sxx"),
        F.sum((F.col("l_quantity") * F.col("l_extendedprice")).cast("decimal(30,4)")).alias("sxy"),
        F.sum((F.col("l_extendedprice") * F.col("l_extendedprice")).cast("decimal(30,4)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(cov_n * cov_n / (var_x * var_y), 6).alias("r2"),
    )


SQL_STATS_REGRESSION = """
WITH m AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)                        AS sx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)                   AS sy,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,4))) AS DOUBLE)           AS sxx,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)      AS sxy,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS syy
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m
"""


def q_join_existence_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence semantics via LEFT SEMI join: per nation, how many
    customers placed at least one URGENT order. The semi join never
    materializes or duplicates the probe side (a customer with 50
    urgent orders emits once), and the nation dim is broadcast — the
    plan every EXISTS subquery should compile to at scale."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    nation = load_table(spark, sf_dir, "nation")
    hit = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_semi"
    )
    return (
        hit.join(F.broadcast(nation), hit["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_urgent_customers"))
    )


SQL_JOIN_EXISTENCE_SEMI = """
SELECT n.n_name, COUNT(*) AS n_urgent_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
GROUP BY n.n_name
"""


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-navigation window functions with explicit frames:
    first/last shipped part and the 2nd line's price per order. The
    full-partition frame for last_value/nth_value is the classic
    correctness trap (the default frame stops at CURRENT ROW); both
    engines get the identical explicit frame. One partitioned window.
    The order key includes l_partkey and l_extendedprice because this
    synthetic lineitem has duplicate (orderkey, linenumber) pairs —
    without them the boundary rows are tie-ambiguous and the navigated
    values nondeterministic per run."""
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_shipdate", "l_linenumber", "l_partkey", "l_extendedprice")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.first_value("l_partkey").over(w).alias("first_part"),
        F.last_value("l_partkey").over(w).alias("last_part"),
        F.nth_value("l_extendedprice", 2).over(w).alias("second_price"),
    )


SQL_WINDOW_FIRST_LAST = """
SELECT l_orderkey, l_linenumber,
       FIRST_VALUE(l_partkey) OVER w AS first_part,
       LAST_VALUE(l_partkey) OVER w AS last_part,
       NTH_VALUE(l_extendedprice, 2) OVER w AS second_price
FROM lineitem
WINDOW w AS (
    PARTITION BY l_orderkey
    ORDER BY l_shipdate, l_linenumber, l_partkey, l_extendedprice
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
"""


def q_time_user_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling median of daily spend over the trailing 3
    active days — the robust trend line a per-entity monitoring
    pipeline draws. Daily totals are DECIMAL-exact; the rolling median
    is an exact interpolated percentile over a 3-row frame (order
    statistics — no accumulation), inside a window PARTITIONED by user,
    so the whole plan stays parallel across users."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("spend")
    )
    w = W.partitionBy("user_id").orderBy("d").rowsBetween(-2, W.currentRow)
    return daily.select(
        "user_id",
        "d",
        F.round("spend", 2).alias("spend"),
        F.round(F.expr("percentile(spend, 0.5)").over(w), 4).alias("med3"),
    )


SQL_TIME_USER_ROLLING_MEDIAN = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
    FROM events GROUP BY user_id, CAST(ts AS DATE)
)
SELECT user_id, d, ROUND(spend, 2) AS spend,
       ROUND(quantile_cont(spend, 0.5) OVER (
           PARTITION BY user_id ORDER BY d
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
       ), 4) AS med3
FROM daily
"""


def q_customer_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue CONCENTRATION curve (the 80/20 check): for each top
    percentile tier of customers (1 / 5 / 10 / 20 percent by spend),
    the number of qualifying customers and their integer-micro share
    of total revenue — the one table that says how dependent the
    business is on its whales. Tier thresholds are exact interpolated
    percentiles of per-customer revenue (rounded to 4, collected once
    — bounded metadata, the RFM pattern) inlined as literals, so the
    tier filter is a narrow expression; no global ordered window, no
    ntile, and revenue never leaves integer cents."""
    # r15: fan_out tried and REVERTED by interleaved A/B (0.926 vs
    # 0.797 median): the per-customer partial aggregate collapses 10x
    # map-side, so the plain plan shuffles less than the fanned one.
    orders = load_table(spark, sf_dir, "orders")
    # r15: one pass — per_cust is consumed twice (threshold collect +
    # tier aggregate) and each consumer re-ran the scan + groupBy
    # shuffle; localCheckpoint materializes the per-customer rollup
    # once (bounded by |customers|, the same cut policy as pagerank's
    # edge relation) and both consumers read it back.
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_c")
        )
        .localCheckpoint(eager=True)
    )
    th = per_cust.agg(
        *[
            F.round(F.expr(f"percentile(rev_c, {1 - q / 100})"), 4).alias(f"t{q}")
            for q in (1, 5, 10, 20)
        ],
        F.sum("rev_c").alias("total_c"),
    ).collect()[0]
    arms = []
    for q in (1, 5, 10, 20):
        thr = float(th[f"t{q}"])
        arms.append(
            F.struct(
                F.lit(q).alias("top_pct"),
                F.sum((F.col("rev_c") >= F.lit(thr)).cast("long")).alias("n_customers"),
                F.sum(F.when(F.col("rev_c") >= F.lit(thr), F.col("rev_c")).otherwise(F.lit(0)))
                .cast("long")
                .alias("tier_rev_c"),
            )
        )
    one = per_cust.agg(F.array(*arms).alias("tiers"))
    return one.select(F.explode("tiers").alias("t")).select(
        F.col("t.top_pct").alias("top_pct"),
        F.col("t.n_customers").alias("n_customers"),
        F.col("t.tier_rev_c").alias("tier_rev_c"),
        F.expr(f"CAST(t.tier_rev_c * 1000000 DIV {int(th['total_c'])} AS BIGINT)").alias(
            "rev_share_x1m"
        ),
    )


SQL_CUSTOMER_PARETO = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
    FROM orders GROUP BY o_custkey
),
th AS (
    SELECT ROUND(quantile_cont(rev_c, 0.99), 4) AS t1,
           ROUND(quantile_cont(rev_c, 0.95), 4) AS t5,
           ROUND(quantile_cont(rev_c, 0.90), 4) AS t10,
           ROUND(quantile_cont(rev_c, 0.80), 4) AS t20,
           CAST(SUM(rev_c) AS BIGINT) AS total_c
    FROM per_cust
),
tiers AS (
    SELECT 1 AS top_pct, t1 AS thr, total_c FROM th
    UNION ALL SELECT 5, t5, total_c FROM th
    UNION ALL SELECT 10, t10, total_c FROM th
    UNION ALL SELECT 20, t20, total_c FROM th
)
SELECT t.top_pct,
       CAST(SUM(CASE WHEN p.rev_c >= t.thr THEN 1 ELSE 0 END) AS BIGINT)
           AS n_customers,
       CAST(SUM(CASE WHEN p.rev_c >= t.thr THEN p.rev_c ELSE 0 END) AS BIGINT)
           AS tier_rev_c,
       CAST(SUM(CASE WHEN p.rev_c >= t.thr THEN p.rev_c ELSE 0 END) * 1000000
            // MAX(t.total_c) AS BIGINT) AS rev_share_x1m
FROM per_cust p CROSS JOIN tiers t
GROUP BY t.top_pct
"""


def q_orders_shipment_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-shipment pain metric: per priority class, how many orders
    ship in ONE wave vs many (the spread = days between the order's
    first and last line shipment), with the exact median and p90
    spread — the fulfillment-consolidation report ops teams read
    before changing warehouse batching. One orderkey-grain aggregate
    (max-min shipdate), a plain shuffle join against orders (a
    fact-cardinality table — broadcasting it would bound driver memory
    by the fact table; AQE picks the strategy), and exact
    interpolated percentiles over INTEGER day spreads (order
    statistics — no float accumulation; the builtin's per-group
    buffer is fine at 25 groups x orders-per-priority, but the
    percentile inputs stay integers either way)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    spread = li.groupBy("l_orderkey").agg(
        F.datediff(F.max("l_shipdate"), F.min("l_shipdate")).cast("long").alias("spread_d")
    )
    j = spread.join(
        orders.select(F.col("o_orderkey"), F.col("o_orderpriority")),
        spread.l_orderkey == F.col("o_orderkey"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((F.col("spread_d") > 0).cast("long")).alias("n_split"),
        F.expr(
            "CAST(SUM(CAST(spread_d > 0 AS BIGINT)) * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("split_share_x1m"),
        F.round(F.expr("percentile(spread_d, 0.5)"), 4).alias("p50_spread_d"),
        F.round(F.expr("percentile(spread_d, 0.9)"), 4).alias("p90_spread_d"),
    )


SQL_ORDERS_SHIPMENT_SPREAD = """
WITH spread AS (
    SELECT l_orderkey,
           CAST(DATEDIFF('day', MIN(l_shipdate), MAX(l_shipdate)) AS BIGINT)
               AS spread_d
    FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN spread_d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_split,
       CAST(SUM(CASE WHEN spread_d > 0 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS split_share_x1m,
       ROUND(quantile_cont(spread_d, 0.5), 4) AS p50_spread_d,
       ROUND(quantile_cont(spread_d, 0.9), 4) AS p90_spread_d
FROM spread s JOIN orders o ON s.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


def q_lineitem_discount_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-RESPONSE curve: per discount level (cents), the exact
    integer-micro mean quantity, realized revenue, and the mean
    quantity's lift over the zero-discount baseline — the first table
    a pricing analyst reads to see whether discounting actually moves
    volume. One 11-group fact aggregate; the baseline joins back as a
    broadcast single row keyed on the band (no scalar cross-join);
    every ratio is integer DIV — no float anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    by_disc = (
        li.groupBy(F.round(F.col("l_discount") * 100).cast("int").alias("discount_pct"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.expr(
                "CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) * 10000"
                " DIV COUNT(1) AS BIGINT)"
            ).alias("avg_qty_x1m"),
            (
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(18,2)")
                        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(8,2)")
                    ).cast("decimal(28,4)")
                )
                * 10000
            )
            .cast("long")
            .alias("revenue_x10k"),
        )
    )
    base = by_disc.filter(F.col("discount_pct") == 0).select(
        F.lit(1).alias("__j"), F.col("avg_qty_x1m").alias("base_qty_x1m")
    )
    return (
        by_disc.withColumn("__j", F.lit(1))
        .join(F.broadcast(base), "__j")
        .select(
            "discount_pct",
            "n_items",
            "avg_qty_x1m",
            "revenue_x10k",
            F.expr("CAST(avg_qty_x1m * 1000000 DIV base_qty_x1m AS BIGINT)").alias(
                "qty_lift_x1m"
            ),
        )
    )


SQL_LINEITEM_DISCOUNT_RESPONSE = """
WITH by_disc AS (
    SELECT CAST(ROUND(l_discount * 100) AS INTEGER) AS discount_pct,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) * 10000
                // COUNT(*) AS BIGINT) AS avg_qty_x1m,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(1.0 - l_discount AS DECIMAL(8,2))
                         AS DECIMAL(28,4))) * 10000 AS BIGINT) AS revenue_x10k
    FROM lineitem GROUP BY 1
),
base AS (SELECT avg_qty_x1m AS base_qty_x1m FROM by_disc WHERE discount_pct = 0)
SELECT discount_pct, n_items, avg_qty_x1m, revenue_x10k,
       CAST(avg_qty_x1m * 1000000 // base_qty_x1m AS BIGINT) AS qty_lift_x1m
FROM by_disc CROSS JOIN base
"""


def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME-VALUE curve: customers grouped by first-order
    month, each cohort's cumulative revenue (exact integer cents) and
    per-customer cumulative LTV (integer cents via DIV) at every month
    offset — the revenue counterpart of events_retention's count
    curve, and the table a payback-period chart reads directly. One
    customer-keyed aggregate finds cohorts, one (cohort, offset)
    rollup, and the running sum is a window PARTITIONED by cohort
    (parallel across cohorts; offsets per cohort are unique so the
    order key is total)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    cohort = orders.groupBy("o_custkey").agg(
        F.trunc(F.min("d"), "month").alias("cohort_month")
    )
    sizes = cohort.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    monthly = (
        orders.join(cohort, "o_custkey")
        .groupBy(
            "cohort_month",
            F.months_between(F.trunc("d", "month"), F.col("cohort_month"))
            .cast("long")
            .alias("month_offset"),
        )
        .agg((F.sum("price") * 100).cast("long").alias("rev_c"))
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        monthly.withColumn("cum_revenue_c", F.sum("rev_c").over(w).cast("long"))
        .join(F.broadcast(sizes), "cohort_month")
        .select(
            "cohort_month",
            "month_offset",
            "n_customers",
            "cum_revenue_c",
            F.expr("cum_revenue_c DIV n_customers").alias("ltv_per_customer_c"),
        )
    )


SQL_ORDERS_COHORT_LTV = """
WITH o AS (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders
),
cohort AS (
    SELECT o_custkey, DATE_TRUNC('month', MIN(d)) AS cohort_month
    FROM o GROUP BY o_custkey
),
sizes AS (
    SELECT cohort_month, COUNT(*) AS n_customers FROM cohort GROUP BY cohort_month
),
monthly AS (
    SELECT c.cohort_month,
           CAST(DATEDIFF('month', c.cohort_month, DATE_TRUNC('month', o.d)) AS BIGINT)
               AS month_offset,
           CAST(SUM(o.price) * 100 AS BIGINT) AS rev_c
    FROM o JOIN cohort c USING (o_custkey)
    GROUP BY 1, 2
),
cum AS (
    SELECT cohort_month, month_offset,
           CAST(SUM(rev_c) OVER (PARTITION BY cohort_month ORDER BY month_offset
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_revenue_c
    FROM monthly
)
SELECT CAST(cum.cohort_month AS DATE) AS cohort_month, month_offset, n_customers,
       cum_revenue_c, cum_revenue_c // n_customers AS ltv_per_customer_c
FROM cum JOIN sizes USING (cohort_month)
"""


def q_orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers bucketed 1-3 on Recency, Frequency
    and Monetary at the exact corpus 33rd/66th percentiles, rolled up
    to segment sizes and value — the classic retention-marketing cut.
    Tertile thresholds are ONE exact-percentile row (rounded to 4 so
    the bucket literals are bit-identical), collected driver-side and
    inlined (bounded metadata collect); bucketing is then a narrow
    expression and the rollup has at most 27 groups."""
    # r15: fan_out tried and REVERTED by interleaved A/B (1.131 vs
    # 0.882 median) — same map-side-combine argument as customer_pareto.
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("__last_d"),
        F.count(F.lit(1)).alias("frequency"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("monetary_c"),
    ).withColumn("monetary", F.col("monetary_c").cast("double") / 100.0)
    # r15: per_cust is consumed THREE times (corpus max date, threshold
    # collect, scoring pass); materialize the per-customer rollup once
    # (bounded by |customers| — same policy as customer_pareto). The
    # corpus max date — formerly its own full orders scan + collect —
    # is now max() over the checkpointed rollup's per-customer last
    # dates (identical value: max of per-group maxes), and recency
    # derives from it as a narrow expression.
    per_cust = per_cust.localCheckpoint(eager=True)
    max_date = per_cust.agg(F.max("__last_d").alias("m")).collect()[0]["m"]
    per_cust = per_cust.withColumn(
        "recency_d", F.datediff(F.lit(max_date), F.col("__last_d")).cast("long")
    )
    th = per_cust.agg(
        *[
            F.round(F.expr(f"percentile({c}, {q})"), 4).alias(f"{c}_{int(q * 100)}")
            for c in ("recency_d", "frequency", "monetary")
            for q in (0.33, 0.66)
        ]
    ).collect()[0]

    def score(col, lo, hi, invert=False):
        s = (
            F.when(F.col(col) <= F.lit(lo), 1)
            .when(F.col(col) <= F.lit(hi), 2)
            .otherwise(3)
        )
        return (4 - s) if invert else s

    scored = per_cust.select(
        "o_custkey",
        "monetary_c",
        # low recency_d = recently active = BEST (3)
        score("recency_d", th["recency_d_33"], th["recency_d_66"], invert=True).alias("r"),
        score("frequency", th["frequency_33"], th["frequency_66"]).alias("f"),
        score("monetary", th["monetary_33"], th["monetary_66"]).alias("m"),
    )
    return (
        scored.groupBy(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).alias("rfm_segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # integer cents: a ROUND of a double division here can split
            # across engines on representation ties
            F.expr("CAST(SUM(monetary_c) DIV COUNT(1) AS BIGINT)").alias(
                "avg_monetary_x100"
            ),
        )
    )


SQL_ORDERS_RFM_SEGMENTS = """
WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS m FROM orders),
per_cust AS (
    SELECT o_custkey,
           CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)), mx.m) AS BIGINT) AS recency_d,
           COUNT(*) AS frequency,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS monetary_c,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE)
               / 100.0 AS monetary
    FROM orders CROSS JOIN mx
    GROUP BY o_custkey, mx.m
),
th AS (
    SELECT ROUND(quantile_cont(recency_d, 0.33), 4) AS r33,
           ROUND(quantile_cont(recency_d, 0.66), 4) AS r66,
           ROUND(quantile_cont(frequency, 0.33), 4) AS f33,
           ROUND(quantile_cont(frequency, 0.66), 4) AS f66,
           ROUND(quantile_cont(monetary, 0.33), 4)  AS m33,
           ROUND(quantile_cont(monetary, 0.66), 4)  AS m66
    FROM per_cust
),
scored AS (
    SELECT o_custkey, monetary_c,
           4 - (CASE WHEN recency_d <= r33 THEN 1
                     WHEN recency_d <= r66 THEN 2 ELSE 3 END) AS r,
           CASE WHEN frequency <= f33 THEN 1
                WHEN frequency <= f66 THEN 2 ELSE 3 END AS f,
           CASE WHEN monetary <= m33 THEN 1
                WHEN monetary <= m66 THEN 2 ELSE 3 END AS m
    FROM per_cust CROSS JOIN th
)
SELECT CAST(r * 100 + f * 10 + m AS INTEGER) AS rfm_segment,
       COUNT(*) AS n_customers,
       CAST(SUM(monetary_c) // COUNT(*) AS BIGINT) AS avg_monetary_x100
FROM scored
GROUP BY r, f, m
"""


def q_orders_priority_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month order volume trend per priority class: monthly
    counts plus the MoM delta via a lag window PARTITIONED by priority
    (months per priority are unique, so the order key is total). The
    time-bucketed trend-with-delta shape every ops dashboard renders."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    w = W.partitionBy("o_orderpriority").orderBy("month")
    return monthly.select(
        "o_orderpriority",
        "month",
        "n_orders",
        (F.col("n_orders") - F.lag("n_orders").over(w)).alias("mom_delta"),
    )


SQL_ORDERS_PRIORITY_TREND = """
WITH monthly AS (
    SELECT o_orderpriority,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority, month
)
SELECT o_orderpriority, month, n_orders,
       n_orders - LAG(n_orders) OVER (
           PARTITION BY o_orderpriority ORDER BY month) AS mom_delta
FROM monthly
"""


def q_customer_balance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance health per nation: negative-balance share in
    micro-units, exact median balance, and the integer-cent mean —
    the receivables-risk cut of the customer dimension. One broadcast
    dim join + per-nation aggregate (median is an order statistic)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    return j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum((F.col("c_acctbal") < 0).cast("bigint")).alias("n_negative"),
        F.expr(
            "CAST(SUM(CAST(c_acctbal < 0 AS BIGINT)) * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("negative_x1m"),
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50_balance"),
        # exact integer cents; no mean division (negative sums would hit
        # the truncate-vs-floor integer-division divergence)
        F.sum((F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("decimal(28,0)"))
        .cast("bigint")
        .alias("sum_balance_x100"),
    )


SQL_CUSTOMER_BALANCE_PROFILE = """
SELECT n.n_name,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN c.c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
       CAST(SUM(CASE WHEN c.c_acctbal < 0 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS negative_x1m,
       ROUND(quantile_cont(c.c_acctbal, 0.5), 4) AS p50_balance,
       CAST(SUM(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS DECIMAL(28,0)))
            AS BIGINT) AS sum_balance_x100
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def q_part_markup_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized-vs-list pricing per brand: the micro-ratio of sold
    extended price to list price x quantity — where discounting
    actually lands by brand. Fact-dim broadcast join; numerator and
    denominator are exact integer cents, so the markup needs no float
    at all."""
    from pipe_s_spark.sizing import fan_out

    # r15: fan_out — the exact-integer-cent decimal sums ran pipelined
    # into the single scan task; no-op at cluster scale (sizing.fan_out).
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_quantity", "l_extendedprice"
        ),
        by=["l_partkey"],
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    sold_c = F.sum((F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("decimal(28,0)"))
    list_c = F.sum(
        (
            F.col("p_retailprice").cast("decimal(18,2)")
            * F.col("l_quantity").cast("decimal(18,2)")
            * 100
        ).cast("decimal(28,0)")
    )
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            sold_c.cast("bigint").alias("sold_x100"),
            list_c.cast("bigint").alias("list_x100"),
        )
        # BIGINT floor division on positive cents — identical on both
        # engines (decimal division rounds at engine-specific scales)
        .withColumn(
            "realized_x1m",
            F.expr("CAST(sold_x100 * 1000000 DIV list_x100 AS BIGINT)"),
        )
    )


SQL_PART_MARKUP_BY_BRAND = """
SELECT p.p_brand,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                     AS DECIMAL(28,0))) AS BIGINT) AS sold_x100,
       CAST(SUM(CAST(CAST(p.p_retailprice AS DECIMAL(18,2))
                     * CAST(l.l_quantity AS DECIMAL(18,2)) * 100
                     AS DECIMAL(28,0))) AS BIGINT) AS list_x100,
       CAST(CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                          AS DECIMAL(28,0))) AS BIGINT)
            * 1000000
            // CAST(SUM(CAST(CAST(p.p_retailprice AS DECIMAL(18,2))
                             * CAST(l.l_quantity AS DECIMAL(18,2)) * 100
                             AS DECIMAL(28,0))) AS BIGINT)
            AS BIGINT) AS realized_x1m
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


def q_nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO-TO-REPORT: each nation's share of its REGION's customer
    order revenue, in integer micro-units — the windowed
    percent-of-total every BI layer exposes (Oracle's RATIO_TO_REPORT,
    MDX share calc). Revenue is exact integer cents; the region total
    comes from an unordered window PARTITIONED by region (no sort, no
    global window), and the share is integer DIV — no float anywhere.
    One fact aggregate to nation grain (25 rows), then window + two
    broadcast dimension joins on the tiny side."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
                    orders.o_custkey == customer.c_custkey)
        .groupBy("c_nationkey")
        .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
             .cast("long").alias("rev_c"))
    )
    dim = nation.select("n_nationkey", "n_name", "n_regionkey").join(
        F.broadcast(region.select("r_regionkey", "r_name")),
        nation.n_regionkey == region.r_regionkey,
    )
    w = Window.partitionBy("r_name")
    return (
        rev.join(F.broadcast(dim), rev.c_nationkey == dim.n_nationkey)
        .withColumn("region_rev_c", F.sum("rev_c").over(w).cast("long"))
        .select(
            "r_name",
            "n_name",
            "rev_c",
            "region_rev_c",
            F.expr("CAST(rev_c * 1000000 DIV region_rev_c AS BIGINT)").alias(
                "share_x1m"
            ),
        )
    )


SQL_NATION_SHARE_OF_REGION = """
WITH rev AS (
    SELECT c.c_nationkey,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
),
j AS (
    SELECT r.r_name, n.n_name, rev.rev_c
    FROM rev
    JOIN nation n ON rev.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
)
SELECT r_name, n_name, rev_c,
       CAST(SUM(rev_c) OVER (PARTITION BY r_name) AS BIGINT) AS region_rev_c,
       CAST(rev_c * 1000000 // SUM(rev_c) OVER (PARTITION BY r_name) AS BIGINT)
           AS share_x1m
FROM j
"""


def q_customer_segment_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue contribution by market segment: customers, orders, and
    integer-cent revenue per segment with each segment's micro-share of
    the total — the mix report a revenue dashboard leads with. One
    broadcast dim join + one segment rollup; the scalar total is a
    bounded driver collect inlined as a literal (no scalar cross
    join)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    j = orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
    seg = j.groupBy("c_mktsegment").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("revenue_x100"),
    )
    total = seg.agg(F.sum("revenue_x100")).collect()[0][0]
    return seg.withColumn(
        "share_x1m", F.expr(f"CAST(revenue_x100 * 1000000 DIV {total} AS BIGINT)")
    )


SQL_CUSTOMER_SEGMENT_VALUE = """
WITH seg AS (
    SELECT c.c_mktsegment,
           COUNT(DISTINCT o.o_custkey) AS n_customers,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS revenue_x100
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
),
total AS (SELECT SUM(revenue_x100) AS t FROM seg)
SELECT c_mktsegment, n_customers, n_orders, revenue_x100,
       CAST(revenue_x100 * 1000000 // MAX(total.t) AS BIGINT) AS share_x1m
FROM seg CROSS JOIN total
GROUP BY c_mktsegment, n_customers, n_orders, revenue_x100
"""


def q_orders_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-risk signal: per customer, the count of ordering gaps
    longer than 60 days and the longest gap — the re-engagement
    trigger list. One lag window PARTITIONED by customer (ordered by
    date + order key, total), then a customer-keyed rollup; only
    customers with at least one long gap are emitted."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_orderkey"
    )
    w = W.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = (
        orders.withColumn("prev_d", F.lag("d").over(w))
        .filter(F.col("prev_d").isNotNull())
        .select("o_custkey", F.datediff("d", "prev_d").cast("long").alias("gap_d"))
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum((F.col("gap_d") > 60).cast("bigint")).alias("n_long_gaps"),
            F.max("gap_d").alias("max_gap_d"),
        )
        .filter(F.col("n_long_gaps") > 0)
    )


SQL_ORDERS_GAP_DETECTION = """
WITH gaps AS (
    SELECT o_custkey,
           CAST(date_diff('day',
                LAG(CAST(o_orderdate AS DATE)) OVER (
                    PARTITION BY o_custkey
                    ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
                CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_d
    FROM orders
)
SELECT o_custkey,
       COUNT(*) AS n_gaps,
       CAST(SUM(CASE WHEN gap_d > 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_gaps,
       MAX(gap_d) AS max_gap_d
FROM gaps WHERE gap_d IS NOT NULL
GROUP BY o_custkey
HAVING SUM(CASE WHEN gap_d > 60 THEN 1 ELSE 0 END) > 0
"""


def q_lineitem_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (IQR) outlier counts of unit price per return flag
    — the box-plot robust-outlier rule, complementing the MAD detector
    on events. Exact interpolated quartiles (order statistics, rounded
    to 4 so both engines' fences are bit-identical) broadcast back for
    a single counting pass."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    # dquantiles, not percentile(): 3 groups x the whole fact table is
    # exactly the shape where the builtin's per-group value buffer
    # OOMs at scale; the distributed form is bit-identical (see
    # functions.quantile / percentiles_distributed).
    from pipe_s_spark.functions.quantile import dquantiles

    qs = dquantiles(
        li, ["l_returnflag"], "unit_price", (0.25, 0.75), aliases=("q1", "q3")
    )
    j = li.join(F.broadcast(qs), "l_returnflag").withColumn(
        "iqr", F.col("q3") - F.col("q1")
    )
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("q1").alias("q1"),
        F.min("q3").alias("q3"),
        F.sum(
            (F.col("unit_price") < F.col("q1") - 1.5 * F.col("iqr")).cast("bigint")
        ).alias("n_low_outliers"),
        F.sum(
            (F.col("unit_price") > F.col("q3") + 1.5 * F.col("iqr")).cast("bigint")
        ).alias("n_high_outliers"),
    )


SQL_LINEITEM_IQR_OUTLIERS = """
WITH li AS (
    SELECT l_returnflag, l_extendedprice / l_quantity AS unit_price FROM lineitem
),
qs AS (
    SELECT l_returnflag,
           ROUND(quantile_cont(unit_price, 0.25), 4) AS q1,
           ROUND(quantile_cont(unit_price, 0.75), 4) AS q3
    FROM li GROUP BY l_returnflag
)
SELECT li.l_returnflag,
       COUNT(*) AS n,
       MIN(qs.q1) AS q1,
       MIN(qs.q3) AS q3,
       CAST(SUM(CASE WHEN unit_price < qs.q1 - 1.5 * (qs.q3 - qs.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
       CAST(SUM(CASE WHEN unit_price > qs.q3 + 1.5 * (qs.q3 - qs.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
FROM li JOIN qs USING (l_returnflag)
GROUP BY li.l_returnflag
"""


QUERIES = {
    q_q1_pricing_summary: SQL_Q1,
    q_orders_gap_detection: SQL_ORDERS_GAP_DETECTION,
    q_customer_segment_value: SQL_CUSTOMER_SEGMENT_VALUE,
    q_nation_share_of_region: SQL_NATION_SHARE_OF_REGION,
    q_customer_balance_profile: SQL_CUSTOMER_BALANCE_PROFILE,
    q_part_markup_by_brand: SQL_PART_MARKUP_BY_BRAND,
    q_lineitem_iqr_outliers: SQL_LINEITEM_IQR_OUTLIERS,
    q_orders_priority_trend: SQL_ORDERS_PRIORITY_TREND,
    q_orders_rfm_segments: SQL_ORDERS_RFM_SEGMENTS,
    q_orders_cohort_ltv: SQL_ORDERS_COHORT_LTV,
    q_lineitem_discount_response: SQL_LINEITEM_DISCOUNT_RESPONSE,
    q_orders_shipment_spread: SQL_ORDERS_SHIPMENT_SPREAD,
    q_customer_pareto: SQL_CUSTOMER_PARETO,
    q_stats_regression: SQL_STATS_REGRESSION,
    q_join_existence_semi: SQL_JOIN_EXISTENCE_SEMI,
    q_window_first_last: SQL_WINDOW_FIRST_LAST,
    q_time_user_rolling_median: SQL_TIME_USER_ROLLING_MEDIAN,
    q_q3_shipping_priority: SQL_Q3,
    q_q5_local_supplier: SQL_Q5,
    q_q6_revenue_forecast: SQL_Q6,
    q_q10_returned_items: SQL_Q10,
    q_agg_rollup: SQL_AGG_ROLLUP,
    q_agg_cube: SQL_AGG_CUBE,
    q_agg_grouping_sets: SQL_AGG_GROUPING_SETS,
    q_window_topk_per_group: SQL_WINDOW_TOPK,
    q_window_running_total: SQL_WINDOW_RUNNING,
    q_window_lag_lead: SQL_WINDOW_LAG,
    q_topk_global: SQL_TOPK_GLOBAL,
    q_set_ops: SQL_SET_OPS,
    q_distinct_agg: SQL_DISTINCT_AGG,
    q_scalar_funcs: SQL_SCALAR_FUNCS,
    q_json_funcs: SQL_JSON_FUNCS,
    q_date_funcs: SQL_DATE_FUNCS,
    q_pivot_event_types: SQL_PIVOT,
    q_time_tumbling: SQL_TIME_TUMBLING,
    q_time_sliding: SQL_TIME_SLIDING,
    q_time_session: SQL_TIME_SESSION,
    q_time_rollup_hour_day: SQL_TIME_ROLLUP,
    q_time_gap_fill: SQL_TIME_GAP_FILL,
    q_unpivot_lineitem_charges: SQL_UNPIVOT,
    q_full_outer_balances: SQL_FULL_OUTER,
    q_window_range_frame: SQL_WINDOW_RANGE,
    q_array_funcs: SQL_ARRAY_FUNCS,
}
