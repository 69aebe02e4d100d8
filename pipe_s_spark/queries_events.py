"""Oracle-checked user-behavior analytics over the ``events`` table:
funnel conversion, cohort retention, per-entity outlier detection.

The reference has no analytics surface (SURVEY.md §2.9); these are the
event-stream shapes its CDC data would feed downstream. All three are
single-digit-shuffle plans keyed on ``user_id`` — at 100 TB the only
wide exchange is the per-user hash partition, which AQE can reuse
across the chained windows/aggregations because the key never changes.

Cross-engine float policy per functions.exact: sums of 2-decimal
``value`` go through DECIMAL (exact, order-independent); the remaining
scalar IEEE ops (one division, one sqrt) are bit-deterministic on both
engines; genuinely real outputs are ROUND(.., 6) on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipe_s_spark.sources import load_table


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase (strictly increasing
    event time), one summary row.

    Three chained whole-partition windows on the SAME key compute
    "first view", "first click after that view", "first purchase after
    that click" in one shuffle — no self-joins. ``avg_view_to_purchase_ms``
    is integer micro-arithmetic (davg_int tier: no double ever exists).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    e = (
        ev.withColumn(
            "fv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "fc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("fv")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "fp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("fc")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = e.groupBy("user_id").agg(
        F.min("fv").alias("fv"), F.min("fc").alias("fc"), F.min("fp").alias("fp")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("fv").alias("n_view"),
        F.count("fc").alias("n_click_after_view"),
        F.count("fp").alias("n_purchase_funnel"),
        F.expr(
            "CAST(SUM(CASE WHEN fp IS NOT NULL THEN unix_millis(CAST(fp AS TIMESTAMP))"
            " - unix_millis(CAST(fv AS TIMESTAMP)) END)"
            " DIV NULLIF(COUNT(fp), 0) AS BIGINT)"
        ).alias("avg_view_to_purchase_ms"),
    )


SQL_EVENTS_FUNNEL = """
WITH e1 AS (
    SELECT user_id, event_type, ts,
           MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS fv
    FROM events
), e2 AS (
    SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > fv THEN ts END)
                  OVER (PARTITION BY user_id) AS fc
    FROM e1
), e3 AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > fc THEN ts END)
                  OVER (PARTITION BY user_id) AS fp
    FROM e2
), per_user AS (
    SELECT user_id, MIN(fv) AS fv, MIN(fc) AS fc, MIN(fp) AS fp
    FROM e3 GROUP BY user_id
)
SELECT COUNT(*)  AS n_users,
       COUNT(fv) AS n_view,
       COUNT(fc) AS n_click_after_view,
       COUNT(fp) AS n_purchase_funnel,
       CAST(SUM(CASE WHEN fp IS NOT NULL
                     THEN epoch_ms(fp) - epoch_ms(fv) END)
            // NULLIF(COUNT(fp), 0) AS BIGINT) AS avg_view_to_purchase_ms
FROM per_user
"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted on
    each later active day offset.

    cohort assign (groupBy user) -> distinct active days -> equi-join
    on user_id -> count-distinct per (cohort_day, offset). Every wide
    stage is keyed on user_id until the final small rollup, so the
    exchange is reused; the output is O(days^2) rows regardless of
    input size.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohort = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    active = ev.distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).cast("long").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


SQL_EVENTS_RETENTION = """
WITH ev AS (
    SELECT user_id, CAST(ts AS DATE) AS d FROM events
), cohort AS (
    SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY user_id
), active AS (
    SELECT DISTINCT user_id, d FROM ev
)
SELECT c.cohort_day,
       CAST(date_diff('day', c.cohort_day, a.d) AS BIGINT) AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM active a JOIN cohort c USING (user_id)
GROUP BY c.cohort_day, day_offset
"""


def q_events_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score anomalies: events whose value is >2 sample
    standard deviations from that user's mean.

    Mean/variance come from DECIMAL-exact sums over one per-user
    window (order-independent across partitionings); the z expression
    is then pure scalar IEEE arithmetic, identical on both engines.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    w = Window.partitionBy("user_id")
    sx = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
    sxx = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(18,4)")).over(w)
        .cast("double")
    )
    n = F.count(F.lit(1)).over(w)
    stats = (
        ev.withColumn("sx", sx)
        .withColumn("sxx", sxx)
        .withColumn("n", n)
        .filter(F.col("n") >= 3)
        .withColumn("mean", F.col("sx") / F.col("n"))
        .withColumn(
            "var",
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1),
        )
        .filter(F.col("var") > 1e-12)
        .withColumn("z", (F.col("value") - F.col("mean")) / F.sqrt(F.col("var")))
    )
    return stats.filter(F.abs(F.col("z")) > 2).select(
        "event_id", "user_id", "value", F.round("z", 6).alias("z")
    )


SQL_EVENTS_OUTLIERS = """
WITH s AS (
    SELECT event_id, user_id, value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)         AS sx,
           CAST(SUM(CAST(value * value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sxx,
           COUNT(*) OVER w                                                  AS n
    FROM events
    WINDOW w AS (PARTITION BY user_id)
), st AS (
    SELECT event_id, user_id, value, n,
           sx / n                              AS mean,
           (sxx - sx * sx / n) / (n - 1)       AS var
    FROM s WHERE n >= 3
)
SELECT event_id, user_id, value,
       ROUND((value - mean) / sqrt(var), 6) AS z
FROM st
WHERE var > 1e-12 AND ABS((value - mean) / sqrt(var)) > 2
"""


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-path mining: counts of consecutive event-type transitions
    (Markov bigrams) across all user journeys — one lag window and one
    small rollup, both keyed work on user_id."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_EVENTS_TRANSITIONS = """
WITH nxt AS (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS to_type
    FROM events
)
SELECT from_type, to_type, COUNT(*) AS n
FROM nxt WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
"""


def q_events_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement: per calendar day, distinct active users that
    day (DAU) and over the trailing 7 days (WAU).

    WAU needs a DISTINCT over a sliding window, which no window frame
    expresses — the scalable shape is cover-set expansion: each (user,
    active day) emits the ≤7 future days it keeps the user active for
    (a narrow 7x explode, linear in |user-days|), then one distinct
    count per covered day. Output restricted to days observed in the
    data."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    user_days = ev.distinct()
    dau = user_days.groupBy("d").agg(F.count_distinct("user_id").alias("dau"))
    cover = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("cd"),
    ).distinct()
    wau = (
        cover.join(dau.select(F.col("d").alias("cd")), "cd")
        .groupBy("cd")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return dau.join(wau, dau["d"] == wau["cd"]).select("d", "dau", "wau")


SQL_EVENTS_ROLLING_ACTIVE = """
WITH user_days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), dau AS (
    SELECT d, COUNT(DISTINCT user_id) AS dau FROM user_days GROUP BY d
), cover AS (
    SELECT DISTINCT user_id, unnest(generate_series(d, d + 6, INTERVAL 1 DAY))::DATE AS cd
    FROM user_days
), wau AS (
    SELECT cd, COUNT(DISTINCT user_id) AS wau
    FROM cover JOIN (SELECT d AS cd FROM dau) USING (cd)
    GROUP BY cd
)
SELECT dau.d, dau.dau, wau.wau
FROM dau JOIN wau ON dau.d = wau.cd
"""


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph (Markov
    bigram counts as edge weights) in deterministic integer fixed-point
    — 5 power iterations, bit-identical on any engine (see
    operators.graph.pagerank_int: integer shares, truncating divides,
    order-independent BIGINT sums). The graph here is type-sized; the
    same operator runs on any (src, dst, w) edge list with a
    |V|-sized rank table and one shuffle join + one combine-side
    groupBy per iteration."""
    from pipe_s_spark.operators.graph import pagerank_int

    edges = q_events_transitions(spark, sf_dir).select(
        F.col("from_type").alias("src"), F.col("to_type").alias("dst"), F.col("n").alias("w")
    )
    return pagerank_int(edges, iters=5).withColumnRenamed("v", "event_type")


def _sql_graph_pagerank() -> str:
    from pipe_s_spark.operators.graph import pagerank_int_sql

    edges = f"""
    SELECT from_type AS src, to_type AS dst, CAST(n AS BIGINT) AS w FROM (
        {SQL_EVENTS_TRANSITIONS}
    )
    """
    inner = pagerank_int_sql(edges, iters=5)
    return f"SELECT v AS event_type, rank FROM ({inner})"


def q_events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust mean per event type: clip values to the exact
    interpolated [p01, p99] (rounded to 4 on both engines so the clip
    thresholds are bit-identical), then average the clipped values
    through DECIMAL(18,4) sums — order-independent, so the result is
    stable under any partitioning. Shape: one tiny per-type percentile
    aggregate broadcast back onto the stream, then one
    map-side-combinable aggregation — two small shuffles total, no
    window over the raw rows."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # dquantiles, not percentile(): whole-table values into a handful
    # of groups is the per-group-buffer OOM shape at scale (see
    # functions.quantile); bit-identical to the builtin.
    from pipe_s_spark.functions.quantile import dquantiles

    stats = dquantiles(
        ev, ["event_type"], "value", (0.01, 0.99), aliases=("p01", "p99")
    )
    clipped = ev.join(F.broadcast(stats), "event_type").withColumn(
        "v_w", F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("p01").alias("p01"),
        F.max("p99").alias("p99"),
        F.sum((F.col("value") < F.col("p01")).cast("bigint")).alias("n_clip_low"),
        F.sum((F.col("value") > F.col("p99")).cast("bigint")).alias("n_clip_high"),
        F.round(
            F.sum(F.col("v_w").cast("decimal(18,4)")).cast("double") / F.count(F.lit(1)),
            4,
        ).alias("mean_winsorized"),
    )


SQL_EVENTS_WINSORIZED = """
WITH stats AS (
    SELECT event_type,
           ROUND(quantile_cont(value, 0.01), 4) AS p01,
           ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
), clipped AS (
    SELECT e.event_type, e.value, s.p01, s.p99,
           LEAST(GREATEST(e.value, s.p01), s.p99) AS v_w
    FROM events e JOIN stats s USING (event_type)
)
SELECT event_type,
       COUNT(*) AS n,
       MIN(p01) AS p01,
       MAX(p99) AS p99,
       CAST(SUM(CASE WHEN value < p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
       CAST(SUM(CASE WHEN value > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
       ROUND(CAST(SUM(CAST(v_w AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4)
           AS mean_winsorized
FROM clipped GROUP BY event_type
"""


def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly counts per event type via median absolute
    deviation — the outlier detector that, unlike z-scores
    (events_outliers), is itself immune to the outliers it hunts.
    med and MAD are exact interpolated medians (order statistics — no
    summation, deterministic on both engines) rounded to 4 so the
    5xMAD threshold is bit-identical; the flag pass is a narrow
    broadcast-join + filter."""
    from pipe_s_spark.functions.quantile import dquantiles

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # both medians via the bounded-memory distributed quantile (the
    # builtin percentile() buffers every group value; see
    # functions.quantile) — bit-identical results
    med = dquantiles(ev, ["event_type"], "value", (0.5,), aliases=("med",))
    # dev is consumed by THREE downstream passes (the MAD count agg,
    # the second dquantiles — itself a multi-pass consumer — and the
    # flag pass); without materialization each re-derives the
    # events ⋈ med lineage from the source scan (~30 scans / 51
    # shuffles measured in PLAN_REPORT — the slowest query in the
    # bench for no semantic reason). Materialized through the shared
    # session memo (functions.shared — localCheckpoint with bounded
    # FIFO lifetime and unpersist-on-clear) so repeated invocations
    # reuse ONE narrow (type, value, med, adev) checkpoint instead of
    # each call pinning a fresh events-sized copy in executor storage
    # for the application lifetime — exactly the intermediate a
    # production job would persist between the two quantile passes.
    from pipe_s_spark.functions import shared as SH

    dev = SH.materialized(
        spark,
        ("anomaly_mad_dev", sf_dir),
        lambda: ev.join(F.broadcast(med), "event_type").withColumn(
            "adev", F.abs(F.col("value") - F.col("med"))
        ),
    )
    mad = (
        dev.groupBy("event_type")
        .agg(F.min("med").alias("med"), F.count(F.lit(1)).alias("n"))
        .join(
            F.broadcast(
                dquantiles(dev, ["event_type"], "adev", (0.5,), aliases=("mad",))
            ),
            "event_type",
        )
    )
    flagged = dev.drop("med").join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min("med").alias("med"),
        F.min("mad").alias("mad"),
        F.sum((F.col("adev") > F.lit(5.0) * F.col("mad")).cast("bigint")).alias(
            "n_anomalies"
        ),
    )


SQL_EVENTS_ANOMALY_MAD = """
WITH med AS (
    SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS med
    FROM events GROUP BY event_type
), dev AS (
    SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
    FROM events e JOIN med m USING (event_type)
), mad AS (
    SELECT event_type, MIN(med) AS med,
           ROUND(quantile_cont(adev, 0.5), 4) AS mad,
           COUNT(*) AS n
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       MIN(m.n) AS n,
       MIN(m.med) AS med,
       MIN(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.adev > 5.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_anomalies
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


def q_events_time_to_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-event (conversion latency) per signup cohort day: for
    users whose FIRST event is a signup, the exact median/p90 hours
    until their first subsequent purchase, plus the conversion count —
    the survival-curve summary growth analytics starts from. One
    user_id-keyed aggregate builds both timestamps in one shuffle;
    percentiles are order statistics over integer hour-deltas
    (deterministic, no float accumulation)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("signup_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("purchase_ts"),
    )
    cohort = per_user.filter(
        F.col("signup_ts").isNotNull() & (F.col("signup_ts") == F.col("first_ts"))
    ).select(
        F.to_date("signup_ts").alias("cohort_day"),
        F.when(
            F.col("purchase_ts") > F.col("signup_ts"),
            F.expr(
                "CAST((unix_timestamp(purchase_ts) - unix_timestamp(signup_ts))"
                " DIV 3600 AS BIGINT)"
            ),
        ).alias("hours_to_purchase"),
    )
    return cohort.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_signups"),
        F.count("hours_to_purchase").alias("n_converted"),
        F.round(F.expr("percentile(hours_to_purchase, 0.5)"), 4).alias("p50_hours"),
        F.round(F.expr("percentile(hours_to_purchase, 0.9)"), 4).alias("p90_hours"),
    )


SQL_EVENTS_TIME_TO_EVENT = """
WITH per_user AS (
    SELECT user_id,
           MIN(ts) AS first_ts,
           MIN(CASE WHEN event_type = 'signup' THEN ts END)   AS signup_ts,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts
    FROM events GROUP BY user_id
),
cohort AS (
    SELECT CAST(signup_ts AS DATE) AS cohort_day,
           CASE WHEN purchase_ts > signup_ts
                THEN CAST(date_diff('second', signup_ts, purchase_ts) // 3600 AS BIGINT)
           END AS hours_to_purchase
    FROM per_user
    WHERE signup_ts IS NOT NULL AND signup_ts = first_ts
)
SELECT cohort_day,
       COUNT(*) AS n_signups,
       COUNT(hours_to_purchase) AS n_converted,
       ROUND(quantile_cont(hours_to_purchase, 0.5), 4) AS p50_hours,
       ROUND(quantile_cont(hours_to_purchase, 0.9), 4) AS p90_hours
FROM cohort GROUP BY cohort_day
"""


def q_events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: exact median /
    p90 seconds between a user's consecutive events of that type —
    the burstiness profile capacity planning and bot detection read.
    One lag window keyed (user, type) + a per-type percentile over
    integer second gaps (order statistics — deterministic)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")).alias("gap_s"),
        )
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 4).alias("p50_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.9)"), 4).alias("p90_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


SQL_EVENTS_INTER_ARRIVAL = """
WITH gaps AS (
    SELECT event_type,
           CAST(date_diff('second',
                LAG(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id),
                ts) AS BIGINT) AS gap_s
    FROM events
)
SELECT event_type,
       COUNT(*) AS n_gaps,
       ROUND(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
       ROUND(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s,
       MAX(gap_s) AS max_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY event_type
"""


def q_events_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: events and revenue by day-of-week
    (1=Sunday..7=Saturday, pinned across engines — Spark's dayofweek
    numbering vs DuckDB's %w is the classic off-by-one). Revenue stays
    in integer cents; one map-side-combinable 7-group aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.dayofweek("ts").alias("weekday")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("revenue_x100"),
        F.count_distinct("user_id").alias("n_users"),
    )


SQL_EVENTS_WEEKDAY_PROFILE = """
SELECT CAST(strftime(ts, '%w') AS INTEGER) + 1 AS weekday,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS revenue_x100,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY weekday
"""


def q_events_peak_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-load profile: for every calendar day, the hour with the
    most distinct active users (ties to the earlier hour) and its
    headcount — the capacity number an on-call dashboard leads with.
    Hourly distinct counts (one groupBy), then a per-day window
    ranked (users desc, hour asc)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.to_date("ts").alias("d"), F.hour("ts").alias("hr")
    ).agg(F.count_distinct("user_id").alias("n_users"))
    w = Window.partitionBy("d").orderBy(F.desc("n_users"), "hr")
    return (
        hourly.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("d", F.col("hr").alias("peak_hour"), F.col("n_users").alias("peak_users"))
    )


SQL_EVENTS_PEAK_HOUR = """
WITH hourly AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY d, hr
),
ranked AS (
    SELECT d, hr, n_users,
           ROW_NUMBER() OVER (PARTITION BY d ORDER BY n_users DESC, hr) AS rk
    FROM hourly
)
SELECT d, hr AS peak_hour, n_users AS peak_users
FROM ranked WHERE rk = 1
"""


def q_events_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-ADJUSTMENT residuals: daily revenue minus the
    day-of-week mean — the de-seasonalized series an anomaly monitor
    should alert on instead of raw dailies (a quiet Sunday is normal;
    a quiet Tuesday is not). Daily revenue is exact integer cents;
    the weekday mean is integer-cents DIV over that weekday's days
    (order-independent); the residual is pure integer subtraction —
    no float exists anywhere in the query. Two vocabulary-sized
    aggregates (365 x 1 and 7 x 1 rows at any corpus size) after one
    fact scan."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("rev_c")
    )
    daily = daily.withColumn("dow", F.dayofweek("d"))
    wk = daily.groupBy("dow").agg(
        F.expr("CAST(SUM(rev_c) DIV COUNT(1) AS BIGINT)").alias("dow_mean_c")
    )
    return (
        daily.join(F.broadcast(wk), "dow")
        .select(
            "d",
            "dow",
            "rev_c",
            "dow_mean_c",
            (F.col("rev_c") - F.col("dow_mean_c")).alias("residual_c"),
        )
    )


SQL_EVENTS_SEASONAL_RESIDUAL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
    FROM events GROUP BY 1
),
dowd AS (
    SELECT d, CAST(strftime(d, '%w') AS INTEGER) + 1 AS dow, rev_c FROM daily
),
wk AS (
    SELECT dow, CAST(SUM(rev_c) // COUNT(*) AS BIGINT) AS dow_mean_c
    FROM dowd GROUP BY dow
)
SELECT d, dowd.dow, rev_c, dow_mean_c, rev_c - dow_mean_c AS residual_c
FROM dowd JOIN wk ON dowd.dow = wk.dow
"""


#: PSI value-bin width / bin count for the weekly drift monitor.
PSI_BIN_W = 50.0
PSI_BINS = 10


def q_events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-DRIFT monitor: the Population Stability Index of
    the event-value distribution for every calendar week against week
    0 — the standard "has my feature/traffic distribution moved"
    number an ML-ops monitor alerts on (rule of thumb: PSI > 0.2 =
    investigate). Values are binned into 10 fixed $50 buckets; both
    weeks' shares are add-one smoothed over the SAME 10-bin spine (so
    empty bins are defined, and the spine join is a 10-row broadcast);
    each bin's (q-p)*ln(q/p) term is quantized to integer NANO-units
    once, so the 10-term sum is order-independent and the whole
    output is engine-exact. One fact-table aggregate (week x bin, map-
    side combinable) — everything after it is vocabulary-sized."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.floor((F.dayofmonth("ts") - 1) / 7).cast("int")
    bin_ = F.least(
        F.floor(F.col("value") / PSI_BIN_W), F.lit(PSI_BINS - 1)
    ).cast("int")
    counts = (
        ev.select(wk.alias("wk"), bin_.alias("bin"))
        .groupBy("wk", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spine = (
        counts.select("wk").distinct()
        .select("wk", F.explode(F.sequence(F.lit(0), F.lit(PSI_BINS - 1))).alias("bin"))
    )
    full = (
        spine.join(counts, ["wk", "bin"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .withColumn("n", F.sum("c").over(Window.partitionBy("wk")))
    )
    ref = full.filter(F.col("wk") == 0).select(
        "bin", F.col("c").alias("c0"), F.col("n").alias("n0")
    )
    cmp_ = full.filter(F.col("wk") > 0).join(F.broadcast(ref), "bin")
    p = (F.col("c0") + 1).cast("double") / (F.col("n0") + PSI_BINS).cast("double")
    q = (F.col("c") + 1).cast("double") / (F.col("n") + PSI_BINS).cast("double")
    cmp_ = cmp_.withColumn(
        "term_x1e9",
        F.round(((q - p) * F.log(q / p)) * F.lit(1e9)).cast("long"),
    )
    return cmp_.groupBy("wk").agg(
        F.max("n").alias("n_events"),
        F.sum("term_x1e9").alias("psi_x1e9"),
    )


SQL_EVENTS_PSI_DRIFT = f"""
WITH binned AS (
    SELECT CAST(FLOOR((EXTRACT(day FROM ts) - 1) / 7) AS INTEGER) AS wk,
           CAST(LEAST(FLOOR(value / {PSI_BIN_W}), {PSI_BINS - 1}) AS INTEGER) AS bin
    FROM events
),
counts AS (SELECT wk, bin, COUNT(*) AS c FROM binned GROUP BY wk, bin),
spine AS (
    SELECT wk, i AS bin
    FROM (SELECT DISTINCT wk FROM counts)
    CROSS JOIN (SELECT unnest(generate_series(0, {PSI_BINS - 1})) AS i)
),
full_c AS (
    SELECT s.wk, s.bin, COALESCE(c.c, 0) AS c,
           CAST(SUM(COALESCE(c.c, 0)) OVER (PARTITION BY s.wk) AS BIGINT) AS n
    FROM spine s LEFT JOIN counts c ON s.wk = c.wk AND s.bin = c.bin
),
ref AS (SELECT bin, c AS c0, n AS n0 FROM full_c WHERE wk = 0),
terms AS (
    SELECT f.wk, f.n,
           CAST(ROUND((
               (CAST(f.c + 1 AS DOUBLE) / CAST(f.n + {PSI_BINS} AS DOUBLE)
                - CAST(r.c0 + 1 AS DOUBLE) / CAST(r.n0 + {PSI_BINS} AS DOUBLE))
               * LN((CAST(f.c + 1 AS DOUBLE) / CAST(f.n + {PSI_BINS} AS DOUBLE))
                    / (CAST(r.c0 + 1 AS DOUBLE) / CAST(r.n0 + {PSI_BINS} AS DOUBLE)))
           ) * 1e9) AS BIGINT) AS term_x1e9
    FROM full_c f JOIN ref r ON f.bin = r.bin
    WHERE f.wk > 0
)
SELECT wk, MAX(n) AS n_events, CAST(SUM(term_x1e9) AS BIGINT) AS psi_x1e9
FROM terms GROUP BY wk
"""


QUERIES = {
    q_events_psi_drift: SQL_EVENTS_PSI_DRIFT,
    q_events_seasonal_residual: SQL_EVENTS_SEASONAL_RESIDUAL,
    q_events_funnel: SQL_EVENTS_FUNNEL,
    q_events_peak_hour: SQL_EVENTS_PEAK_HOUR,
    q_events_weekday_profile: SQL_EVENTS_WEEKDAY_PROFILE,
    q_events_winsorized: SQL_EVENTS_WINSORIZED,
    q_events_anomaly_mad: SQL_EVENTS_ANOMALY_MAD,
    q_events_time_to_event: SQL_EVENTS_TIME_TO_EVENT,
    q_events_inter_arrival: SQL_EVENTS_INTER_ARRIVAL,
    q_graph_pagerank: _sql_graph_pagerank(),
    q_events_transitions: SQL_EVENTS_TRANSITIONS,
    q_events_rolling_active: SQL_EVENTS_ROLLING_ACTIVE,
    q_events_retention: SQL_EVENTS_RETENTION,
    q_events_outliers: SQL_EVENTS_OUTLIERS,
}
