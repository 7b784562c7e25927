"""Window-function operators.

The reference *claims* window functions (reference: stage2_report.md:226)
but ships none; its driver-side Pareto cumulative share
(reference: spark_eda.py:568-578) and two-step "top game of top dev"
(reference: spark_eda.py:206-224) are the idiomatic use cases.  The
engine implements them as real window functions (SURVEY.md §2.6, §2.7 D1).

Scale notes:
- Partitioned windows (per-user, per-nation) shuffle once on the
  partition key and sort within partitions — linear scalability as long
  as no single key is huge (events per user is bounded).
- The one global window (Pareto over suppliers) runs on an
  already-aggregated input that is dimension-sized by construction;
  never put a global window over a fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import table
from ._rounding import _fr4

def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_REV_SQL = "l_extendedprice * (1 - l_discount)"


# --------------------------------------------------------------------------
# D1: Pareto cumulative revenue share (reference: spark_eda.py:568-578,
# computed driver-side there; real window frame here)
def w1_pareto_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_sup = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum(_rev().cast("decimal(18,6)")).alias("rev"))
    )
    order = Window.orderBy(F.col("rev").desc(), F.col("s_name"))
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = Window.partitionBy()  # global frame over the tiny aggregate
    return per_sup.select(
        "s_name",
        F.round("rev", 2).cast("double").alias("total_revenue"),
        # share on doubles: decimal÷decimal rescaling differs across
        # engines, double division doesn't (cumsum order is pinned).
        (
            F.floor(
                F.sum(F.col("rev").cast("double")).over(cum)
                / F.sum(F.col("rev").cast("double")).over(total)
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("cum_share"),
    ).orderBy(F.col("total_revenue").desc(), F.col("s_name"))


W1_ORACLE = f"""
WITH per_sup AS (
  SELECT s_name, SUM(CAST({_REV_SQL} AS DECIMAL(18,6))) AS rev
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_name
)
SELECT s_name,
       CAST(ROUND(rev, 2) AS DOUBLE) AS total_revenue,
       floor(SUM(CAST(rev AS DOUBLE)) OVER (ORDER BY rev DESC, s_name
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / SUM(CAST(rev AS DOUBLE)) OVER () * 1000000.0 + 0.5)
         / 1000000.0 AS cum_share
FROM per_sup
ORDER BY total_revenue DESC, s_name
"""


# --------------------------------------------------------------------------
# Per-group top-k via row_number (idiomatic form of reference's
# spark_eda.py:214-224 two-step top-game-of-top-dev)
def w2_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rank_in_nation", F.row_number().over(w))
        .where(F.col("rank_in_nation") <= 3)
        .select("n_name", "rank_in_nation", "c_custkey", "c_name",
                F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy("n_name", "rank_in_nation")
    )


W2_ORACLE = """
SELECT n_name, rank_in_nation, c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
FROM (
  SELECT n_name, c_custkey, c_name, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n_name
                            ORDER BY c_acctbal DESC, c_custkey) AS rank_in_nation
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
WHERE rank_in_nation <= 3
ORDER BY n_name, rank_in_nation
"""


# --------------------------------------------------------------------------
# Moving average over an event stream (batch time-series capability —
# SURVEY.md §2.6 streaming row)
def w3_moving_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    # Quantize the 2-dp doubles to DECIMAL(18,6) so the frame SUM is
    # exact and order-free, then one double division through the floor
    # recipe — ROUND on the double average tie-breaks differently per
    # engine at exact halves (the w10 lesson).
    val = F.col("value").cast("decimal(18,6)")
    return (
        e.select(
            "event_id",
            "user_id",
            _fr4(
                F.sum(val).over(w).cast("double")
                / F.count("value").over(w)
            ).alias("moving_avg_4"),
        )
        .orderBy("event_id")
    )


W3_ORACLE = """
SELECT event_id, user_id,
       floor(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
             / COUNT(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             * 10000.0 + 0.5) / 10000.0
         AS moving_avg_4
FROM events
ORDER BY event_id
"""


# --------------------------------------------------------------------------
# Tumbling daily windows (batch twin of the streaming windowed agg;
# reference's per-month histogram generalized — spark_eda.py:465-472)
def w4_daily_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


W4_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       event_type,
       COUNT(*) AS event_count,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
"""


# --------------------------------------------------------------------------
# lag/lead deltas per user (sessionized-delta capability)
def w5_value_delta_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
        )
        .orderBy("event_id")
    )


W5_ORACLE = """
SELECT event_id, user_id,
       ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2)
         AS value_delta
FROM events
ORDER BY event_id
"""


# --------------------------------------------------------------------------
# Ranking family: rank / dense_rank / percent_rank
def w6_customer_rank_in_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.rank().over(w).alias("bal_rank"),
            F.dense_rank().over(w).alias("bal_dense_rank"),
            (
                F.floor(
                    F.percent_rank().over(w) * F.lit(1000000.0) + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("bal_percentile"),
        )
        .orderBy("c_mktsegment", "bal_rank", "c_custkey")
    )


W6_ORACLE = """
SELECT c_mktsegment, c_custkey,
       RANK() OVER w AS bal_rank,
       DENSE_RANK() OVER w AS bal_dense_rank,
       floor(PERCENT_RANK() OVER w * 1000000.0 + 0.5) / 1000000.0
         AS bal_percentile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_mktsegment, bal_rank, c_custkey
"""

# --------------------------------------------------------------------------
# Time-RANGE window frame (vs w3's row frame): per user, the rolling
# 1-hour sum — the frame includes every event within the trailing
# interval, however many rows that is.  Spark range frames need a
# numeric order column, so the frame is expressed over epoch
# microseconds; ties (same us) are all included by RANGE semantics in
# both engines.
RANGE_FRAME_US = 3_600_000_000  # 1 hour


def w8_range_frame_hourly_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-RANGE_FRAME_US, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 2)
            .cast("double")
            .alias("trailing_1h_value"),
        )
        .orderBy("event_id")
    )


W8_ORACLE = f"""
SELECT event_id, user_id,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN {RANGE_FRAME_US} PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS trailing_1h_value
FROM events
ORDER BY event_id
"""


# --------------------------------------------------------------------------
# Sliding 7-day distinct actives (DAU/WAU): per active day, the distinct
# users that day and over the trailing 7 days.  Distinct-over-a-sliding-
# window has no native window form in Spark (no COUNT(DISTINCT) frames);
# the scalable shape is: collapse to the (day, user) grain FIRST (one
# shuffle, bounded by |days|×|users| regardless of event volume), then
# fan each distinct pair out to the ≤7 target days it supports and
# hash-count distinct per target day.  At 100 TB the explode runs over
# the collapsed grain, never the raw events.
ACTIVE_SPAN_DAYS = 7


def w9_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id"
    )
    daily = e.distinct()
    # Single pass over the collapsed grain: each (day, user) supports
    # target days day..day+6; dau falls out of the same aggregate as
    # the off==0 contribution, and `dau > 0` IS the "day had activity"
    # filter — so events is scanned once and no days-list join exists
    # (the naive dau/days/wau three-branch form scans the source three
    # times: column pruning makes the distinct subtrees non-identical,
    # defeating exchange reuse).
    contrib = daily.select(
        "day",
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(ACTIVE_SPAN_DAYS - 1))).alias("off"),
    ).select(
        F.date_add(F.col("day"), F.col("off")).alias("day"), "user_id", "off"
    )
    return (
        contrib.groupBy("day")
        .agg(
            F.count_distinct(
                F.when(F.col("off") == 0, F.col("user_id"))
            ).alias("dau"),
            F.count_distinct("user_id").alias("wau7"),
        )
        .where(F.col("dau") > 0)
        .orderBy("day")
    )


W9_ORACLE = f"""
WITH daily AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
  FROM events
),
days AS (SELECT DISTINCT day FROM daily),
dau AS (SELECT day, COUNT(*) AS dau FROM daily GROUP BY day),
wau AS (
  SELECT d.day, COUNT(DISTINCT a.user_id) AS wau7
  FROM days d
  JOIN daily a
    ON a.day BETWEEN d.day - {ACTIVE_SPAN_DAYS - 1} AND d.day
  GROUP BY d.day
)
SELECT dau.day, dau.dau, wau.wau7
FROM dau JOIN wau ON dau.day = wau.day
ORDER BY dau.day
"""


# --------------------------------------------------------------------------
# EWMA over a calendar-bounded grain.  The recurrence
# ewma_t = α·x_t + (1-α)·ewma_{t-1} is not a built-in window aggregate
# in either engine, but it has an exact closed form over a running sum:
#   ewma_t = (1-α)^t · Σ_{i≤t} c_i·x_i,   c_1 = (1-α)^{-1},
#                                          c_i = α·(1-α)^{-i}  (i ≥ 2)
# — one window running sum after the monthly pre-aggregation.  The
# rescaled coefficients grow as (1-α)^{-t}, so this form needs t
# bounded: the MONTHLY pre-agg guarantees that (calendar months do not
# grow with corpus size; 80 months ⇒ max coefficient ≈ 2.4e12, far
# inside double range).  For unbounded-length series, chunk the scan
# and re-normalize per chunk.
#
# Cross-engine determinism (r4 ADVICE, high): computing the
# coefficients with each engine's own pow() left them one libm ulp
# apart, which the ~1e12 rescale amplified across a half-cent ROUND
# boundary (Spark 4695438.23 vs DuckDB 4695438.22).  Fix: compute
# every coefficient ONCE in Python and inject the identical double
# literals into both plans — Spark joins a broadcast literal table,
# DuckDB joins a VALUES list rendered with repr() (shortest
# round-trip, parses back to the same bits).  Both engines then
# multiply and running-sum the same doubles in the same rn order.
#
# That alone is not enough: the testdata lands a month EXACTLY on a
# half-cent (raw bits 0x1.1e9638e666666p+22, repr 4695438.225), and
# the engines' ROUND primitives disagree on identical bits — Spark
# rounds the shortest decimal repr half-up (.23), DuckDB rounds the
# true binary value (.22).  The final 2dp round is therefore written
# as floor(x*100 + 0.5)/100 in BOTH plans: pure IEEE multiply/add/
# floor/divide, bit-deterministic on identical inputs in any engine.
EWMA_ALPHA = 0.3
#: coefficient-table horizon: 600 months = 50 years of monthly grain,
#: far past any testdata span; months beyond it surface as NULL ewma
#: (left join), loud in any parity check rather than silently wrong.
EWMA_MAX_MONTHS = 600


def _ewma_coefs(
    n: int = EWMA_MAX_MONTHS, a: float = EWMA_ALPHA
) -> list[tuple[int, float, float]]:
    """(rn, c, scale) rows computed in ONE place: c is the rescaled
    running-sum coefficient, scale = (1-α)^rn undoes the rescale."""
    b = 1.0 - a
    out = []
    for rn in range(1, n + 1):
        c = (1.0 / b) if rn == 1 else a * b ** (-rn)
        out.append((rn, c, b**rn))
    return out


def w10_ewma_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order revenue with its exponentially-weighted moving
    average (α=0.3).  Determinism across engines: the monthly totals
    are exact DECIMAL sums, the EWMA coefficients are Python-computed
    double literals shared with the oracle (see module comment), and
    the running sum is evaluated in ORDER BY rn order on identical
    doubles — same bits, same additions, same result."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month_ts")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("revenue")
    )
    coef = spark.createDataFrame(
        _ewma_coefs(), "rn INT, c DOUBLE, scale DOUBLE"
    )
    seq = monthly.withColumn(
        "rn", F.row_number().over(Window.orderBy("month_ts"))
    ).join(F.broadcast(coef), "rn", "left")
    run = (
        Window.orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    raw = F.col("scale") * F.sum(F.col("c") * F.col("revenue")).over(run)
    return (
        seq.select(
            F.to_date("month_ts").alias("month"),
            "revenue",
            (F.floor(raw * 100 + F.lit(0.5)) / 100).alias("ewma"),
        )
        .orderBy("month")
    )


def _ewma_coef_values_sql() -> str:
    return ",".join(
        f"({rn},{c!r},{s!r})" for rn, c, s in _ewma_coefs()
    )


W10_ORACLE = f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
),
seq AS (
  SELECT month, revenue, ROW_NUMBER() OVER (ORDER BY month) AS rn FROM monthly
),
coef(rn, c, scale) AS (VALUES {_ewma_coef_values_sql()})
SELECT month, revenue,
       FLOOR(scale * SUM(c * revenue) OVER (
         ORDER BY seq.rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS ewma
FROM seq LEFT JOIN coef ON seq.rn = coef.rn
ORDER BY month
"""


# --------------------------------------------------------------------------
# Month-over-month growth: the delta/ratio view every revenue dashboard
# opens with.  Same scale shape as w10: the global lag window runs over
# the MONTHLY pre-aggregate (calendar-bounded, never corpus-sized).
def w11_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order revenue with absolute and relative month-over-month
    change.  Determinism: monthly totals are exact DECIMAL sums cast
    once to double; delta and ratio are single IEEE ops on identical
    doubles in both engines (first month's NULLs included)."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month_ts")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("month_ts")
    prev = F.lag("revenue").over(w)
    return (
        monthly.select(
            F.to_date("month_ts").alias("month"),
            "revenue",
            F.round(F.col("revenue") - prev, 2).alias("mom_delta"),
            (
                F.floor(
                    (F.col("revenue") - prev) / prev * 100 * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("mom_pct"),
        )
        .orderBy("month")
    )


W11_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       ROUND(revenue - LAG(revenue) OVER (ORDER BY month), 2) AS mom_delta,
       floor((revenue - LAG(revenue) OVER (ORDER BY month))
             / LAG(revenue) OVER (ORDER BY month) * 100
             * 10000.0 + 0.5) / 10000.0 AS mom_pct
FROM monthly
ORDER BY month
"""


# --------------------------------------------------------------------------
# Cumulative distinct users by day (the "total users ever" curve).
# COUNT(DISTINCT) over an expanding frame is quadratic if expressed as
# a window; the scalable identity is: a user contributes exactly once,
# on their FIRST active day.  So: min(day) per user (one hash-agg on
# user_id), count firsts per day (tiny agg), running-sum over the
# calendar-bounded day grain (same bounded-global-window argument as
# w10/w11: days don't grow with corpus size).
def w12_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per active-first day: new users that day and cumulative users to
    date.  Exact (no sketch), two hash-aggs + one bounded window."""
    e = table(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.to_date(F.min(F.date_trunc("day", "ts"))).alias("day")
    )
    daily = first_day.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    ).orderBy("day")


W12_ORACLE = """
WITH first_day AS (
  SELECT user_id, CAST(MIN(date_trunc('day', ts)) AS DATE) AS day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT day, COUNT(*) AS new_users FROM first_day GROUP BY day
)
SELECT day, new_users,
       -- DuckDB SUM(BIGINT) yields HUGEINT; cast to match Spark's LONG
       CAST(SUM(new_users) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM daily
ORDER BY day
"""


QUERIES = {
    "w1_pareto_supplier_share": w1_pareto_supplier_share,
    "w2_top_customers_per_nation": w2_top_customers_per_nation,
    "w3_moving_avg_events": w3_moving_avg_events,
    "w4_daily_event_rollup": w4_daily_event_rollup,
    "w5_value_delta_per_user": w5_value_delta_per_user,
    "w6_customer_rank_in_segment": w6_customer_rank_in_segment,
    "w8_range_frame_hourly": w8_range_frame_hourly_sum,
    "w9_sliding_active_users": w9_sliding_active_users,
    "w10_ewma_monthly_revenue": w10_ewma_monthly_revenue,
    "w11_mom_revenue_growth": w11_mom_revenue_growth,
    "w12_cumulative_distinct_users": w12_cumulative_distinct_users,
}

ORACLE = {
    "w1_pareto_supplier_share": W1_ORACLE,
    "w2_top_customers_per_nation": W2_ORACLE,
    "w3_moving_avg_events": W3_ORACLE,
    "w4_daily_event_rollup": W4_ORACLE,
    "w5_value_delta_per_user": W5_ORACLE,
    "w6_customer_rank_in_segment": W6_ORACLE,
    "w8_range_frame_hourly": W8_ORACLE,
    "w9_sliding_active_users": W9_ORACLE,
    "w10_ewma_monthly_revenue": W10_ORACLE,
    "w11_mom_revenue_growth": W11_ORACLE,
    "w12_cumulative_distinct_users": W12_ORACLE,
}
