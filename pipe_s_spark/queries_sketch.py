"""Sketch queries: KMV / bloom / count-min / HLL / histogram merges — deterministic (md5-based) so estimates themselves oracle-check."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipe_s_spark.sources import load_table

from pipe_s_spark.queries_llm_shared import (
    KMV_SETOPS_K,
)




# --- sketches ------------------------------------------------------------


def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k sketch: per-event-type approximate distinct users,
    deterministic (md5-based) so the estimate itself oracle-checks —
    the verifiable sibling of approx_count_distinct (HLL) at 100 TB."""
    from pipe_s_spark.functions.sketches import kmv_distinct_estimate

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct_estimate(ev, "user_id", ["event_type"], k=64)


def _sql_sketch_kmv() -> str:
    from pipe_s_spark.functions.sketches import kmv_distinct_estimate_sql

    return kmv_distinct_estimate_sql("events", "user_id", ["event_type"], k=64)


def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates: build a deterministic
    4x256 CMS over events.user_id (shuffle payload bounded by the
    sketch size via map-side combine), then point-query every distinct
    user against the broadcast sketch and compare with the exact count.
    est_cnt >= exact_cnt always (CMS overestimates under collisions) —
    the oracle replays both sides cell-for-cell. All-integer output
    (exact.davg_int float policy)."""
    from pipe_s_spark.functions import sketches as K
    from pipe_s_spark.sizing import fan_out

    # r15: the md5 bucket hashing (4 probes/row) and the exact groupBy
    # partials both pipelined into the 1-task events scan; one keyed
    # fan-out serves both subtrees (identical exchange -> reused) and
    # IS the exact groupBy's distribution. No-op at cluster scale.
    ev = fan_out(
        load_table(spark, sf_dir, "events").select("user_id"), by=["user_id"]
    )
    sketch = K.cms_build(ev, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = K.cms_estimate(exact.select("user_id"), sketch, "user_id")
    return exact.join(est, "user_id").select("user_id", "exact_cnt", "est_cnt")


def _sql_sketch_countmin() -> str:
    from pipe_s_spark.functions import sketches as K

    probe_rows = "\nUNION ALL\n".join(
        f"SELECT user_id, {r} AS row_id, {K.cms_bucket_sql('user_id', r)} AS bucket FROM ukeys"
        for r in range(K.CMS_DEPTH)
    )
    return f"""
WITH cells AS (
    SELECT row_id, bucket, COUNT(*) AS cnt FROM (
        {probe_rows.replace('ukeys', 'events')}
    ) GROUP BY row_id, bucket
),
ukeys AS (SELECT DISTINCT user_id FROM events),
probes AS (
    {probe_rows}
),
est AS (
    SELECT p.user_id, MIN(c.cnt) AS est_cnt
    FROM probes p JOIN cells c USING (row_id, bucket)
    GROUP BY p.user_id
),
exact AS (SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id)
SELECT user_id, exact_cnt, est_cnt FROM exact JOIN est USING (user_id)
"""


def q_sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram quantile sketch over lineitem prices, by
    return flag: single-pass, mergeable, bounded state (~110 cells per
    group at $1000 bins) — the deterministic, oracle-checkable analog
    of approx_percentile. See functions.sketches.histogram_quantiles
    for the scale/merge argument."""
    from pipe_s_spark.functions import sketches as K

    li = load_table(spark, sf_dir, "lineitem")
    return K.histogram_quantiles(li, "l_extendedprice", ["l_returnflag"])


def _sql_sketch_histogram() -> str:
    from pipe_s_spark.functions import sketches as K

    return K.histogram_quantiles_sql("lineitem", "l_extendedprice", ["l_returnflag"])


def q_sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (Flajolet et al. 2007): per-event-type
    approximate distinct users from md5-derived registers, joined with
    the exact count for self-auditing error. Unlike the built-in
    approx_count_distinct, every register — and the estimate itself —
    is reproduced bit-for-bit by the DuckDB oracle (exact-integer
    harmonic sum, string-derived rho; see functions.sketches). THE
    mergeable distinct-count structure at 100 TB: shuffle payload per
    group is m=64 rows, never data-sized."""
    from pipe_s_spark.functions.sketches import hll_estimate
    from pipe_s_spark.sizing import fan_out

    # r15: md5 register derivation + both partial aggregates ran inside
    # the 1-task events scan; the (event_type, user_id) fan-out is the
    # exact count_distinct's first-phase distribution (partial dedup by
    # (group, value)) and parallelizes the HLL register partials.
    # No-op at cluster scale (sizing.fan_out).
    ev = fan_out(
        load_table(spark, sf_dir, "events").select("event_type", "user_id"),
        by=["event_type", "user_id"],
    )
    est = hll_estimate(ev, "user_id", ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_zero_registers", "est_distinct", "exact_distinct"
    )


def _sql_sketch_hll() -> str:
    from pipe_s_spark.functions.sketches import hll_estimate_sql

    inner = hll_estimate_sql("events", "user_id", ["event_type"])
    return f"""
WITH est AS ({inner}),
exact AS (
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
    FROM events GROUP BY event_type
)
SELECT event_type, n_zero_registers, est_distinct, exact_distinct
FROM est JOIN exact USING (event_type)
"""


def q_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-screen: build a deterministic
    4096-bit / 3-hash filter over BUILDING-segment customer keys (build
    shuffle bounded by the filter size), then probe every distinct
    orders.o_custkey with a NARROW inlined-literal check — no join, no
    shuffle on the probe side. Output is the summary a join-prescreen
    cares about: probes / filter-maybes / true members / false
    positives (false negatives are impossible by construction; the
    oracle replays the filter bit-for-bit, so the FP count is exact)."""
    from pipe_s_spark.functions import sketches as K

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    bits = K.bloom_bit_array(K.bloom_build(building, "k"))
    # r15: fan_out keyed on the probe key — the distinct + 3-hash
    # substr probe + membership join ran as ONE AQE-coalesced task
    # (profiled 0.49 s of serial CPU); the exchange satisfies the
    # distinct's clustering, so it replaces, not precedes, that
    # shuffle. No-op at cluster scale (sizing.fan_out).
    from pipe_s_spark.sizing import fan_out

    probes = (
        fan_out(orders.select(F.col("o_custkey").alias("k")), by=["k"]).distinct()
    )
    flagged = probes.withColumn(
        "maybe", K.bloom_might_contain(F.col("k"), bits)
    ).join(
        F.broadcast(building.withColumn("hit", F.lit(True))), "k", "left"
    ).withColumn("hit", F.coalesce("hit", F.lit(False)))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(F.when(F.col("maybe"), 1).otherwise(0)).alias("n_maybe"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_true"),
        F.sum(F.when(F.col("maybe") & ~F.col("hit"), 1).otherwise(0)).alias("n_false_pos"),
    )


def _sql_sketch_bloom() -> str:
    from pipe_s_spark.functions import sketches as K

    pos = [K.bloom_position_sql("k", i) for i in range(K.BLOOM_HASHES)]
    build_rows = "\nUNION ALL\n".join(f"SELECT {p} AS pos FROM bkeys" for p in pos)
    maybe = " AND ".join(f"{p} IN (SELECT pos FROM bits)" for p in pos)
    return f"""
WITH bkeys AS (
    SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
),
bits AS (SELECT DISTINCT pos FROM ({build_rows})),
probes AS (SELECT DISTINCT o_custkey AS k FROM orders),
flagged AS (
    SELECT k, ({maybe}) AS maybe, (k IN (SELECT k FROM bkeys)) AS hit FROM probes
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN maybe AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM flagged
"""


def q_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra (Beyer et al., SIGMOD'07): estimate
    |A|, |B|, |A∪B| and |A∩B| for two corpus halves from two k-min-value
    sketches alone — the mergeable-sketch path for "how much would
    corpus B add to corpus A?" without a corpus-sized distinct. Union
    sketch = bottom-k of the two sketches' hash union (KMV closure
    under union); intersection via the Jaccard of the union sketch.
    Per-side bottom-k uses the salted two-level rank (no hot
    partition); everything after operates on <= 2k rows aggregated
    into arrays — bounded state, no global window."""
    from pipe_s_spark.functions import sketches as K

    k = KMV_SETOPS_K
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.lit("a")).otherwise(F.lit("b")).alias("side"),
        K.kmv_hash("text").alias("h"),
    ).distinct()
    n_salts = 16
    w1 = Window.partitionBy("side", "salt").orderBy("h")
    pre = (
        hashed.withColumn("salt", F.pmod(F.hash("h"), F.lit(n_salts)))
        .withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") <= k)
        .drop("rk", "salt")
    )
    w2 = Window.partitionBy("side").orderBy("h")
    bottom = pre.withColumn("rk", F.row_number().over(w2)).filter(F.col("rk") <= k)
    sketches = bottom.groupBy("side").agg(F.array_sort(F.collect_list("h")).alias("arr"))
    a = sketches.filter(F.col("side") == "a").select(F.col("arr").alias("arr_a"))
    b = sketches.filter(F.col("side") == "b").select(F.col("arr").alias("arr_b"))

    def est(arr):
        n = F.size(arr)
        return F.round(
            F.when(n < k, n.cast("double")).otherwise(
                F.lit(float(k - 1)) / F.element_at(arr, k)
            ),
            4,
        )

    merged = F.expr(f"slice(array_sort(array_union(arr_a, arr_b)), 1, {k})")
    out = (
        a.crossJoin(b)
        .withColumn("arr_u", merged)
        .withColumn("n_union_hashes", F.size("arr_u").cast("bigint"))
        .withColumn(
            "n_both",
            F.size(
                F.expr("filter(arr_u, x -> array_contains(arr_a, x) AND array_contains(arr_b, x))")
            ).cast("bigint"),
        )
        .withColumn("est_a", est(F.col("arr_a")))
        .withColumn("est_b", est(F.col("arr_b")))
        .withColumn("est_union", est(F.col("arr_u")))
    )
    return out.select(
        F.size("arr_a").cast("bigint").alias("n_a_hashes"),
        F.size("arr_b").cast("bigint").alias("n_b_hashes"),
        "n_union_hashes",
        "est_a",
        "est_b",
        "est_union",
        F.round(
            F.col("n_both").cast("double") / F.col("n_union_hashes") * F.col("est_union"),
            4,
        ).alias("est_intersection"),
    )


def _sql_sketch_kmv_setops() -> str:
    from pipe_s_spark.functions import sketches as K

    k = KMV_SETOPS_K
    return f"""
WITH hashed AS (
    SELECT DISTINCT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
           {K.kmv_hash_sql('text')} AS h
    FROM documents
),
bottom AS (
    SELECT side, h FROM (
        SELECT side, h, ROW_NUMBER() OVER (PARTITION BY side ORDER BY h) AS rk
        FROM hashed
    ) WHERE rk <= {k}
),
sk AS (
    SELECT side, list_sort(list(h)) AS arr FROM bottom GROUP BY side
),
ab AS (
    SELECT (SELECT arr FROM sk WHERE side = 'a') AS arr_a,
           (SELECT arr FROM sk WHERE side = 'b') AS arr_b
),
m AS (
    SELECT arr_a, arr_b,
           list_sort(list_distinct(list_concat(arr_a, arr_b)))[1:{k}] AS arr_u
    FROM ab
),
est AS (
    SELECT len(arr_a) AS n_a, len(arr_b) AS n_b, len(arr_u) AS n_u,
           len(list_filter(arr_u,
               x -> list_contains(arr_a, x) AND list_contains(arr_b, x))) AS n_both,
           ROUND(CASE WHEN len(arr_a) < {k} THEN CAST(len(arr_a) AS DOUBLE)
                      ELSE {float(k - 1)!r} / arr_a[{k}] END, 4) AS est_a,
           ROUND(CASE WHEN len(arr_b) < {k} THEN CAST(len(arr_b) AS DOUBLE)
                      ELSE {float(k - 1)!r} / arr_b[{k}] END, 4) AS est_b,
           ROUND(CASE WHEN len(arr_u) < {k} THEN CAST(len(arr_u) AS DOUBLE)
                      ELSE {float(k - 1)!r} / arr_u[{k}] END, 4) AS est_union
    FROM m
)
SELECT CAST(n_a AS BIGINT) AS n_a_hashes,
       CAST(n_b AS BIGINT) AS n_b_hashes,
       CAST(n_u AS BIGINT) AS n_union_hashes,
       est_a, est_b, est_union,
       ROUND(CAST(n_both AS DOUBLE) / n_u * est_union, 4) AS est_intersection
FROM est
"""


def q_sketch_histogram_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY as an oracle-checked property: two
    independently-built per-half histogram sketches (order-key parity
    split) merge by cellwise addition, and the quantile estimates read
    off the MERGED sketch — the distributed-combine contract every
    bounded-state sketch rests on (build per partition/day/shard, merge
    cheaply, estimate once). Windows are partitioned by order status;
    every shuffle payload is bounded by bins-per-group, never rows."""
    from pyspark.sql.window import Window as W

    bw = 1000.0
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        (F.col("o_orderkey") % 2).alias("half"),
        F.floor(F.col("o_totalprice") / F.lit(bw)).cast("long").alias("bin"),
    )
    # per-half sketches built separately, then cellwise merge
    halves = orders.groupBy("o_orderstatus", "half", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    merged = halves.groupBy("o_orderstatus", "bin").agg(F.sum("cnt").alias("cnt"))
    wc = W.partitionBy("o_orderstatus").orderBy("bin")
    wt = W.partitionBy("o_orderstatus")
    h2 = merged.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "total", F.sum("cnt").over(wt)
    )
    aggs = [F.max("total").alias("n_rows")]
    for q in (0.5, 0.95, 0.99):
        t = F.lit(q) * F.col("total")
        est = F.round(
            F.col("bin") * F.lit(bw)
            + F.lit(bw) * (t - (F.col("cum") - F.col("cnt"))) / F.col("cnt"),
            6,
        )
        sel = ((F.col("cum") - F.col("cnt")) < t) & (t <= F.col("cum"))
        aggs.append(F.max(F.when(sel, est)).alias(f"p{int(q * 100)}_est"))
    return h2.groupBy("o_orderstatus").agg(*aggs)


SQL_SKETCH_HISTOGRAM_MERGE = """
WITH halves AS (
    SELECT o_orderstatus, o_orderkey % 2 AS half,
           CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS bin,
           COUNT(*) AS cnt
    FROM orders GROUP BY o_orderstatus, half, bin
),
merged AS (
    SELECT o_orderstatus, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
    FROM halves GROUP BY o_orderstatus, bin
),
h2 AS (
    SELECT o_orderstatus, bin, cnt,
           CAST(SUM(cnt) OVER (PARTITION BY o_orderstatus ORDER BY bin) AS BIGINT) AS cum,
           CAST(SUM(cnt) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS total
    FROM merged
)
SELECT o_orderstatus, CAST(MAX(total) AS BIGINT) AS n_rows,
       MAX(CASE WHEN ((cum - cnt) < (0.5 * total) AND (0.5 * total) <= cum)
           THEN ROUND(bin * 1000.0 + 1000.0 * ((0.5 * total) - (cum - cnt)) / cnt, 6) END) AS p50_est,
       MAX(CASE WHEN ((cum - cnt) < (0.95 * total) AND (0.95 * total) <= cum)
           THEN ROUND(bin * 1000.0 + 1000.0 * ((0.95 * total) - (cum - cnt)) / cnt, 6) END) AS p95_est,
       MAX(CASE WHEN ((cum - cnt) < (0.99 * total) AND (0.99 * total) <= cum)
           THEN ROUND(bin * 1000.0 + 1000.0 * ((0.99 * total) - (cum - cnt)) / cnt, 6) END) AS p99_est
FROM h2 GROUP BY o_orderstatus
"""


QUERIES = {
    q_sketch_kmv_distinct: _sql_sketch_kmv(),
    q_sketch_countmin: _sql_sketch_countmin(),
    q_sketch_bloom: _sql_sketch_bloom(),
    q_sketch_histogram_quantiles: _sql_sketch_histogram(),
    q_sketch_hll_distinct: _sql_sketch_hll(),
    q_sketch_kmv_setops: _sql_sketch_kmv_setops(),
    q_sketch_histogram_merge: SQL_SKETCH_HISTOGRAM_MERGE,
}
