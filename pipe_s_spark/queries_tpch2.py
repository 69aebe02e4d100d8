"""Second TPC-H-style wave: semi/anti joins, correlated and scalar
subqueries, conditional ratios — the query shapes (EXISTS / NOT EXISTS
/ IN / scalar-subquery) Catalyst decorrelates into joins. Adapted to
the testdata's reduced schema (no partsupp/commitdate columns).

All money sums use the DECIMAL-partial policy (functions.exact) for
bit-exact oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipe_s_spark.functions.exact import dsum, dsum_sql
from pipe_s_spark.sources import load_table


def _t(spark, sf_dir, *names):
    return [load_table(spark, sf_dir, n) for n in names]


def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS semi-join — orders with a late-shipped item."""
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    late = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        orders.join(late.select("l_orderkey").distinct(), F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
"""


def q_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: supplier-nation x customer-nation shipping volume by year."""
    nation, customer, supplier, orders, li = _t(
        spark, sf_dir, "nation", "customer", "supplier", "orders", "lineitem"
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation").isin("NATION_1", "NATION_2") & F.col("cust_nation").isin("NATION_1", "NATION_2"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias("revenue"))
    )


SQL_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: conditional-sum ratio (market share of NATION_3
    suppliers) per order year."""
    nation, supplier, orders, li = _t(spark, sf_dir, "nation", "supplier", "orders", "lineitem")
    # r15: fan_out — the decimal volume sums ran pipelined into the
    # single scan task; no-op at cluster scale (sizing.fan_out).
    from pipe_s_spark.sizing import fan_out

    li = fan_out(
        li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
        by=["l_orderkey"],
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            dsum(F.when(F.col("n_name") == "NATION_3", vol).otherwise(F.lit(0.0)), scale=4).alias(
                "nation_vol"
            ),
            dsum(vol, scale=4).alias("total_vol"),
        )
        .select(
            "o_year",
            F.round(F.col("nation_vol") / F.col("total_vol"), 8).alias("mkt_share"),
        )
    )


SQL_Q8 = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       ROUND(
         {dsum_sql("CASE WHEN n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 4)}
         / {dsum_sql('l_extendedprice * (1 - l_discount)', 4)}, 8) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY year(o_orderdate)
"""


def q_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: left join + double grouping — customer order-count
    distribution (including zero-order customers)."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


SQL_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional revenue ratio for PROMO parts."""
    part, li = _t(spark, sf_dir, "part", "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    return joined.agg(
        F.round(
            F.lit(100.0)
            * dsum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)), scale=4)
            / dsum(vol, scale=4),
            8,
        ).alias("promo_revenue_pct")
    )


SQL_Q14 = f"""
SELECT ROUND(100.0 *
         {dsum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 4)}
         / {dsum_sql('l_extendedprice * (1 - l_discount)', 4)}, 8) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
"""


def q_parts_without_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-adapted: NOT EXISTS anti-join — parts never sold, by type/size."""
    part, li = _t(spark, sf_dir, "part", "lineitem")
    return (
        part.join(li.select("l_partkey").distinct(), F.col("p_partkey") == F.col("l_partkey"), "left_anti")
        .groupBy("p_type")
        .agg(F.count(F.lit(1)).alias("n_unsold"))
    )


SQL_PARTS_WITHOUT_SALES = """
SELECT p_type, COUNT(*) AS n_unsold
FROM part p
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
GROUP BY p_type
"""


def q_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated scalar subquery (per-part avg quantity)
    decorrelated into an aggregate join."""
    part, li = _t(spark, sf_dir, "part", "lineitem")
    avg_q = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_qty"
        )
    )
    return (
        li.join(F.broadcast(part.filter(F.col("p_brand") == "Brand#1")), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_q, F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(dsum("l_extendedprice").alias("total_price"), F.count(F.lit(1)).alias("n_items"))
    )


SQL_Q17 = f"""
WITH avg_q AS (
    SELECT l_partkey AS ap_key,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT {dsum_sql('l_extendedprice')} AS total_price, COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#1'
JOIN avg_q ON l_partkey = ap_key
WHERE l_quantity < 0.5 * avg_qty
"""


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: HAVING + IN subquery — orders whose total quantity
    exceeds a threshold, with customer context."""
    customer, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    # r15: keyed fan_out — the exchange it adds on a low-parallelism
    # scan is exactly the distribution the groupBy needs (one exchange,
    # decimal partial agg off the single scan task); no-op at cluster
    # scale (sizing.fan_out).
    from pipe_s_spark.sizing import fan_out

    big = (
        fan_out(li.select("l_orderkey", "l_quantity"), by=["l_orderkey"])
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


SQL_Q18 = """
WITH big AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150
)
SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunction of conjunctive predicates across a join."""
    part, li = _t(spark, sf_dir, "part", "lineitem")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    c1 = (F.col("p_type") == "SMALL") & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 15) & (F.col("p_size") <= 10)
    c2 = (F.col("p_type") == "MEDIUM") & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 25) & (F.col("p_size") <= 20)
    c3 = (F.col("p_type") == "LARGE") & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 35) & (F.col("p_size") <= 30)
    return j.filter(c1 | c2 | c3).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_Q19 = f"""
SELECT {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_type = 'SMALL'  AND l_quantity BETWEEN 1  AND 15 AND p_size <= 10)
   OR (p_type = 'MEDIUM' AND l_quantity BETWEEN 10 AND 25 AND p_size <= 20)
   OR (p_type = 'LARGE'  AND l_quantity BETWEEN 20 AND 35 AND p_size <= 30)
"""


def q_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar AVG subquery + NOT EXISTS — above-average
    balance customers who never ordered, per nation."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_bal"
        )
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders.select("o_custkey").distinct(), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal").alias("totacctbal"))
    )


SQL_Q22 = f"""
WITH avg_bal AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey, COUNT(*) AS numcust, {dsum_sql('c_acctbal')} AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


QUERIES = {
    q_q4_order_priority: SQL_Q4,
    q_q7_nation_volume: SQL_Q7,
    q_q8_market_share: SQL_Q8,
    q_q13_order_distribution: SQL_Q13,
    q_q14_promo_ratio: SQL_Q14,
    q_parts_without_sales: SQL_PARTS_WITHOUT_SALES,
    q_q17_small_quantity: SQL_Q17,
    q_q18_large_orders: SQL_Q18,
    q_q19_or_predicates: SQL_Q19,
    q_q22_idle_customers: SQL_Q22,
}
