"""Third TPC-H-style wave — the 8 remaining classic shapes (Q2, Q9,
Q11, Q12, Q15, Q16, Q20, Q21), adapted to the testdata's reduced schema
(no partsupp table, no commit/receipt dates: the part<->supplier link is
derived from lineitem, and "lateness" is l_shipdate vs o_orderdate).

What each preserves, plan-wise:
- Q2  — correlated scalar MIN subquery + dim-chain to region + top-k
- Q9  — many-way join with part filter, agg by (nation, year)
- Q11 — group-HAVING against a scalar subquery over the same relation
- Q12 — conditional (CASE) aggregation after a fact-fact join
- Q15 — aggregation "view" reused twice, equality with global MAX
- Q16 — NOT IN subquery + COUNT(DISTINCT) rollup
- Q20 — nested IN/semi-join chain (part-filter -> lineitem agg -> supplier)
- Q21 — EXISTS + NOT EXISTS double correlation on the same fact

All money sums use the DECIMAL-partial policy (functions.exact) so both
engines agree bit-exactly; ratios are rounded explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipe_s_spark.functions.exact import dsum, dsum_sql
from pipe_s_spark.sources import load_table


def _t(spark, sf_dir, *names):
    return [load_table(spark, sf_dir, n) for n in names]


# --- Q2: min-cost supplier per part (correlated scalar MIN) --------------


def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: per-part minimum unit price (correlated scalar MIN over
    the derived part<->supplier offer relation), then the dim chain
    supplier->nation->region and a deterministic top-100.

    The offer relation replaces partsupp: unit price = round min over
    lineitem rows of extendedprice/quantity per (part, supplier)."""
    part, supplier, nation, region, li = _t(
        spark, sf_dir, "part", "supplier", "nation", "region", "lineitem"
    )
    from pyspark.sql.window import Window

    # r15: fan_out keyed on l_partkey — one exchange satisfies BOTH the
    # (l_partkey, l_suppkey) groupBy (superset clustering) and the
    # min_cost window's partitionBy(l_partkey); the ~500k-group partial
    # aggregate leaves the single scan task. No-op at cluster scale.
    from pipe_s_spark.sizing import fan_out

    offers = (
        fan_out(
            li.filter(F.col("l_quantity") > 0).select(
                "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
            ),
            by=["l_partkey"],
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias("unit_cost"))
    )
    eligible = part.filter((F.col("p_size") < 15) & (F.col("p_type").isin("STANDARD", "ECONOMY")))
    # correlated scalar MIN as a window over the offer relation: one
    # lineitem scan + one agg total (a self-join formulation re-executes
    # the whole offers subtree — Spark shares no common subplans, and
    # the near-identical branches diverge enough to defeat ReuseExchange)
    return (
        offers.join(F.broadcast(eligible), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("min_cost", F.min("unit_cost").over(Window.partitionBy("l_partkey")))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_type",
            "unit_cost",
        )
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
        .limit(100)
    )


SQL_Q2 = """
WITH offers AS (
    SELECT l_partkey, l_suppkey,
           ROUND(MIN(l_extendedprice / l_quantity), 2) AS unit_cost
    FROM lineitem WHERE l_quantity > 0
    GROUP BY l_partkey, l_suppkey
)
SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name AS nation,
       p_partkey, p_type, unit_cost
FROM offers
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE p_size < 15 AND p_type IN ('STANDARD', 'ECONOMY') AND r_name = 'EUROPE'
  AND unit_cost = (SELECT MIN(o2.unit_cost) FROM offers o2
                   WHERE o2.l_partkey = offers.l_partkey)
ORDER BY s_acctbal DESC, s_name, p_partkey
LIMIT 100
"""


# --- Q9: product-type profit by nation and year --------------------------


def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: part-name filter through a many-way join, profit
    aggregated by supplier nation x order year (supplycost omitted —
    not in schema; profit = discounted revenue)."""
    part, supplier, nation, orders, li = _t(
        spark, sf_dir, "part", "supplier", "nation", "orders", "lineitem"
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part.filter(F.col("p_name").like("%red%"))),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(dsum(profit, scale=4).alias("sum_profit"))
    )


SQL_Q9 = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


# --- Q11: important part values (HAVING vs scalar subquery) --------------


def q_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-part value restricted to one nation's suppliers,
    kept only if above fraction-of-total (scalar subquery over the SAME
    aggregation — Catalyst plans the total as a broadcast one-row
    join, computing the base relation once per branch)."""
    supplier, nation, li = _t(spark, sf_dir, "supplier", "nation", "lineitem")
    nat_supp = supplier.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_1")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    base = li.join(F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
    per_part = base.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * F.col("l_quantity"), scale=4).alias("part_value")
    )
    total = per_part.agg(
        F.sum(F.col("part_value").cast("decimal(18,4)")).cast("double").alias("t")
    ).select((F.col("t") * 0.001).alias("threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


SQL_Q11 = f"""
WITH base AS (
    SELECT l_partkey, l_extendedprice * l_quantity AS v
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1'
),
per_part AS (
    SELECT l_partkey, {dsum_sql('v', 4)} AS part_value
    FROM base GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > (SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,4))) AS DOUBLE) * 0.001 FROM per_part)
"""


# --- Q12: priority counts by return flag (conditional agg) ---------------


def q_q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: fact-fact join + CASE-conditional counts. Lateness =
    shipped more than 30 days after order date (no receipt date in
    schema); groups by return flag instead of the absent shipmode."""
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


SQL_Q12 = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_returnflag
"""


# --- Q15: top supplier(s) via revenue view -------------------------------


def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: a revenue-per-supplier aggregation used twice — once
    as the relation, once under a global MAX — joined on equality.
    (The classic CREATE VIEW is inlined; Spark computes the agg once
    per branch and broadcasts the one-row max.)"""
    supplier, li = _t(spark, sf_dir, "supplier", "lineitem")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        supplier.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_Q15 = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


# --- Q16: supplier counts per part group with NOT IN ---------------------


def q_q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: COUNT(DISTINCT supplier) per (brand, type, size) over
    the lineitem-derived link, excluding suppliers from a NOT IN
    subquery (here: negative account balance stands in for the
    'complaints' comment scan)."""
    part, supplier, li = _t(spark, sf_dir, "part", "supplier", "lineitem")
    excluded = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    link = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(excluded), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .distinct()
    )
    eligible = part.filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size").isin(1, 2, 3, 4, 5))
    )
    return (
        link.join(F.broadcast(eligible), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_Q16 = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) link
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 2, 3, 4, 5)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


# --- Q20: suppliers with significant shipments of selected parts ---------


def q_q20_significant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested IN chain — suppliers IN (suppliers whose 1995
    shipped quantity of name-matching parts exceeds a threshold), then
    the nation filter. Semi-joins all the way down."""
    part, supplier, nation, li = _t(spark, sf_dir, "part", "supplier", "nation", "lineitem")
    sel_parts = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    shipped = (
        li.filter(F.year("l_shipdate") == 1995)
        .join(F.broadcast(sel_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supplier.join(shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_2")),
              F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


SQL_Q20 = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE year(l_shipdate) = 1995
      AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    GROUP BY l_suppkey
    HAVING SUM(l_quantity) > 50
)
AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_2')
"""


# --- Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS) --------


def q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: double correlation on the same fact — count orders
    where THIS supplier shipped late (shipdate > orderdate + 60d),
    another supplier participated (EXISTS), and no other supplier was
    also late (NOT EXISTS). Late/other-ness is precomputed per
    (order, supplier) in one aggregation, then the exists/not-exists
    pair becomes per-order window counts — one shuffle instead of two
    correlated re-scans."""
    supplier, orders, li = _t(spark, sf_dir, "supplier", "orders", "lineitem")
    lines = li.join(
        orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("late"),
    )
    per_os = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late").cast("int")).alias("late_any")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("l_orderkey")
    annotated = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "late_any",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("late_any").over(w).alias("n_late"),
    )
    waiting = annotated.filter(
        (F.col("late_any") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    )
    return (
        waiting.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


SQL_Q21 = """
WITH per_os AS (
    SELECT l_orderkey, l_suppkey,
           MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late_any
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY l_orderkey, l_suppkey
),
annotated AS (
    SELECT l_orderkey, l_suppkey, late_any,
           COUNT(*)      OVER (PARTITION BY l_orderkey) AS n_supp,
           SUM(late_any) OVER (PARTITION BY l_orderkey) AS n_late
    FROM per_os
)
SELECT s_name, COUNT(*) AS numwait
FROM annotated
JOIN supplier ON l_suppkey = s_suppkey
WHERE late_any = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


QUERIES = {
    q_q2_min_cost_supplier: SQL_Q2,
    q_q9_product_profit: SQL_Q9,
    q_q11_important_parts: SQL_Q11,
    q_q12_priority_by_flag: SQL_Q12,
    q_q15_top_supplier: SQL_Q15,
    q_q16_part_supplier_counts: SQL_Q16,
    q_q20_significant_suppliers: SQL_Q20,
    q_q21_waiting_suppliers: SQL_Q21,
}
