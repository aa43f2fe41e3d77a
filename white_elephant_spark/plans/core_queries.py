"""Core relational + time-series queries (SURVEY.md §2.3-§2.6).

These exercise the engine's scan/filter/join/aggregate/window/time
surface on the driver corpus: the capabilities behind the reference's
serving-layer SQL (server/app/usage_data.rb:525-645) and dashboard
shaping (graph.js.coffee:176-272), generalized to standard analytics
shapes. Joins are the capability the reference lacked natively (its
"joins" were reducer-side merges, SURVEY §2.3) — here Catalyst picks
broadcast strategies for the small dims automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.functions import timeunits as tu
from white_elephant_spark.functions.compat import (
    davg,
    dec,
    dsum,
    sql_davg,
    sql_dsum,
)
from white_elephant_spark.plans.registry import register
from white_elephant_spark.sources.catalog import load_table
from white_elephant_spark.session import persist_reuse


# --------------------------------------------------------------------------
# Aggregation over a fact table (A3/A4): the reference's roll-up shape
# SELECT dims, SUM(measures) FROM Usage WHERE ... GROUP BY dims
# (server/app/usage_data.rb:525-595), here as TPC-H Q1 pricing summary.
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum('CAST(l_extendedprice AS DECIMAL(27,4)) * CAST(1 - l_discount AS DECIMAL(27,4))')} AS sum_disc_price,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_discount')} AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("agg", "filter", "scan"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter → groupBy → multi-aggregate with derived measures
    (reference A3/A4 shape, ComputeUsagePerHour.java:393-446)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Multi-way joins (J8 "latent join" capability: README.md:96-98 promises
# conf⋈logs analytics that the reference never implemented).
# --------------------------------------------------------------------------
@register(
    "q5_nation_revenue",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4)) * CAST(1 - l_discount AS DECIMAL(27,4))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
    tags=("join", "agg", "broadcast"),
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema 6-way join; region/nation/supplier broadcast.

    The region filter is pushed onto BOTH fact-side inputs before the
    big shuffles (guide §3.2 — reduce the big side before shuffling
    it): the ASIA nation-key set (a 5-row broadcast) semi-joins the
    customer table, so ~4/5 of customers — and every order and
    lineitem row they would have dragged through the two wide
    exchanges — drop before the first shuffle; the supplier broadcast
    shrinks the same way. Both filters are implied by the join
    predicates (c_nationkey = s_nationkey = n_nationkey ∈ ASIA), so
    the result is identical — the oracle twin keeps the textbook
    join+filter form."""
    t = {n: load_table(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    asia_keys = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
            "left_semi",
        )
        .select("n_nationkey")
    )
    cust = t["customer"].join(
        F.broadcast(asia_keys),
        F.col("c_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    supp = t["supplier"].join(
        F.broadcast(asia_keys),
        F.col("s_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    return (
        cust
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]).filter(F.col("r_name") == "ASIA"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# DISTINCT dimension queries (A9: usage_data.rb:479-523) and MIN/MAX
# range clamping (A10: usage_data.rb:279-289).
# --------------------------------------------------------------------------
@register(
    "event_types_time_range",
    oracle="""
SELECT event_type, MIN(ts) AS min_ts, MAX(ts) AS max_ts,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(value, 0.5)  AS p50,
       quantile_cont(value, 0.95) AS p95
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("distinct", "agg", "percentile"),
)
def event_types_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 + A10 in one verified result: the sorted distinct dimension
    (dropdown population — the group keys) with each value's MIN/MAX
    time range clamp and row count — plus exact linear-interpolated
    p50/p95 of the value per type (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``; the distribution metrics the reference's fixed
    SUM-only measure set can't answer, usage_data.rb:584-588). At
    100 TB the same shape swaps in ``approx_percentile`` — a one-word
    change the oracle can't hash-match, so the exact form is
    declared. One aggregation pass covers all of it."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Time-bucketed rollups across all five units/zones (A4 + W1-W5).
# --------------------------------------------------------------------------
# One rollup per (unit, zone) pair, unioned with a unit tag: all five
# W-series bucketing functions (hour passthrough, tz day, tz Sunday
# week, month, quarter — including a DST zone and a +05:30 offset
# zone) verified by a single registered query.
_ROLLUP_UNITS = [
    ("HOURS", "UTC"),
    ("DAYS", "America/Los_Angeles"),
    ("WEEKS", "America/Los_Angeles"),
    ("MONTHS", "UTC"),
    ("QUARTERS", "Asia/Kolkata"),
]


def _rollup_oracle_one(unit: str, zone: str) -> str:
    b = tu.bucket_sql("ts", unit, zone)
    return f"""
SELECT '{unit}@{zone}' AS unit, {b} AS bucket, event_type,
       {sql_dsum('value')} AS total_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2, 3
"""


@register(
    "rollup_time_units_tz",
    oracle="\nUNION ALL\n".join(_rollup_oracle_one(u, z) for u, z in _ROLLUP_UNITS),
    tags=("agg", "timeunit"),
)
def rollup_time_units_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 rollup across every W-series time unit (W1-W5): the events
    fact bucketed at HOURS (UTC passthrough), DAYS and Sunday-start
    WEEKS in America/Los_Angeles (DST transitions), MONTHS (UTC), and
    QUARTERS in Asia/Kolkata (+05:30 half-hour offset), unioned with
    a unit tag. With no user dimension this is also the A6 collapse_on
    shape — users summed away.

    Plan: the reference's own materialized-cube design (README.md:
    99-101 — aggregate fine once, derive coarse units from the
    partial). The fact table shuffles ONCE into a 30-minute-grain
    DECIMAL partial — 30 minutes, not 60, because quarter boundaries
    in a half-hour-offset zone (Asia/Kolkata, +05:30) fall mid-UTC-
    hour; every supported zone offset is a multiple of 30 minutes, so
    each partial cell maps to exactly one bucket of every (unit,
    zone). Each partial cell then EXPLODES into its five (unit,
    bucket) tags and ONE final aggregation keyed (unit, bucket,
    event_type) produces every rollup row — one shuffle of 5·|cells|
    tiny rows, versus the previous five per-branch re-aggregations +
    union (plan: 7 Exchanges → 3, 5 HashAggregate pairs → 1).
    DECIMAL partials re-sum exactly and the explode only re-tags
    rows, so the result is bit-identical to the per-branch form (and
    to the single-level oracle rollup)."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    partial = (
        ev.groupBy(
            F.timestamp_seconds(sec - sec % 1800).alias("b30"),
            F.col("event_type"),
        )
        .agg(
            F.sum(dec("value")).alias("pv"),
            F.count(F.lit(1)).alias("pn"),
        )
    )
    tags = F.array(
        *[
            F.struct(
                F.lit(f"{u}@{z}").alias("unit"),
                tu.bucket(F.col("b30"), u, z).alias("bucket"),
            )
            for u, z in _ROLLUP_UNITS
        ]
    )
    return (
        partial.select(F.explode(tags).alias("ub"), "event_type", "pv", "pn")
        .groupBy(
            F.col("ub.unit").alias("unit"),
            F.col("ub.bucket").alias("bucket"),
            F.col("event_type"),
        )
        .agg(
            F.sum("pv").cast("double").alias("total_value"),
            F.sum("pn").alias("n_events"),
        )
        .select("unit", "bucket", "event_type", "total_value", "n_events")
    )


# --------------------------------------------------------------------------
# Top-K + "other" shaping (A11/A12: graph.js.coffee:176-237,
# server/app.rb:94-102) — the dashboard's 10-users-plus-other series.
# --------------------------------------------------------------------------
@register(
    "topk_users_other",
    oracle="""
WITH totals AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(27,4))) AS total
  FROM events GROUP BY user_id
), ranked AS (
  SELECT user_id, total,
         ROW_NUMBER() OVER (ORDER BY total DESC, user_id ASC) AS rk
  FROM totals
)
SELECT CASE WHEN rk <= 10 THEN CAST(user_id AS VARCHAR) ELSE 'other' END AS series,
       CAST(SUM(total) AS DOUBLE) AS total_value,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM ranked
GROUP BY 1
""",
    tags=("window", "agg", "topk"),
)
def topk_users_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — rank users by total, keep top 10, fold the rest into an
    'other' series (maxUsersToGraph=10, controllers/index.js.coffee:33).
    Decimal totals make the ranking deterministic across engines.

    Plan: the former global ROW_NUMBER window single-partitioned EVERY
    user's total just to find 10 rows — at corpus scale that is one
    task sorting |users| rows. orderBy+limit plans as TakeOrdered
    (per-partition top-10, single-task merge of 10-row heads), and
    the 'other' series is ONE aggregation over the non-top rows — a
    broadcast anti-join of the 10-row top set against the persisted
    totals (r13 paid a grand⨯topagg scalar cross-join here: two extra
    single-row aggregate exchanges plus a BroadcastNestedLoopJoin,
    measurably slower at gate scale). DECIMAL totals keep the sum
    exact, and eqNullSafe keeps the complement exact even for a
    null user key, so the aggregate matches the oracle's direct
    aggregation of the non-top rows bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(F.sum(dec("value")).alias("total"))
    totals = persist_reuse(totals)  # consumed by the top-10 pick AND the 'other' agg
    top = totals.orderBy(F.col("total").desc(), F.col("user_id").asc()).limit(10)
    top_rows = top.select(
        F.col("user_id").cast("string").alias("series"),
        F.col("total").cast("double").alias("total_value"),
        F.lit(1).cast("long").alias("n_users"),
    )
    rest = totals.join(
        F.broadcast(top.select(F.col("user_id").alias("t_uid"))),
        F.col("user_id").eqNullSafe(F.col("t_uid")),
        "left_anti",
    )
    other = (
        rest.agg(
            F.sum("total").alias("o_total"), F.count(F.lit(1)).alias("o_users")
        )
        .filter(F.col("o_users") > 0)
        .select(
            F.lit("other").alias("series"),
            F.col("o_total").cast("double").alias("total_value"),
            F.col("o_users").alias("n_users"),
        )
    )
    return top_rows.unionByName(other)


# --------------------------------------------------------------------------
# Dense time axis + gap fill (W6/W7: usage_data.rb:291-440,82-86):
# attested through the serving-layer queries, which answer through
# UsageApi and so exercise plans/serving.dense_axis on real axes —
# usage_json_api (weekly) and usage_csv_table_days (daily). The former
# standalone dense_hour_axis_fill slot was folded away to stay inside
# the driver's 50-query check budget.
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# Join-shape breadth: semi, anti, join+topk, conditional aggregation.
# The reference's only join-like ops were reducer merges (J1-J6) and a
# query-time user-set semi-join (J7, server/app/cube.rb:98-109); these
# are the same shapes on the relational corpus, left to Catalyst's
# broadcast/sort-merge strategy choice.
# --------------------------------------------------------------------------
@register(
    "semi_anti_customer_join",
    oracle="""
SELECT 'semi_returns' AS probe, o_orderpriority AS key, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
UNION ALL
SELECT 'anti_no_finished' AS probe, c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS n
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY c_mktsegment
UNION ALL
SELECT 'setops_repeat_no_f' AS probe, CAST(c_custkey AS VARCHAR) AS key,
       CAST(1 AS BIGINT) AS n
FROM (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
""",
    tags=("join", "semi", "anti", "setops", "agg"),
)
def semi_anti_customer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 semi-/anti-join shapes plus INTERSECT/EXCEPT set algebra in
    one verified result (TPC-H Q4 adapted): orders in a half-year
    window having at least one returned lineitem counted by priority
    (``left_semi`` — the probe side stays unduplicated, no distinct
    after the join), unioned with customers having no finished order
    counted by segment (``left_anti`` — the build side reduces to
    distinct custkeys), unioned with the exact membership of {ordered
    in both 1995 and 1996} INTERSECT minus {any finalized order}
    EXCEPT (``intersect``/``subtract`` — Spark plans set ops as
    aggregate-style hash joins on the full row, the same shuffle
    shape as a distinct). Set-op rows carry key = custkey, n = 1, so
    the hash certifies exact membership, not just counts."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    window = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    returned = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    semi = (
        window.join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("semi_returns").alias("probe"),
            F.col("o_orderpriority").alias("key"),
            "n",
        )
    )
    c = load_table(spark, sf_dir, "customer")
    fin = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    anti = (
        c.join(fin, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("anti_no_finished").alias("probe"),
            F.col("c_mktsegment").alias("key"),
            "n",
        )
    )
    y95 = (
        o.filter(
            (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    y96 = (
        o.filter(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    # subtract = EXCEPT DISTINCT, matching the SQL EXCEPT above
    # (exceptAll would be EXCEPT ALL — different on duplicate rows).
    setops = (
        y95.intersect(y96)
        .subtract(fin.distinct())
        .select(
            F.lit("setops_repeat_no_f").alias("probe"),
            F.col("c_custkey").cast("string").alias("key"),
            F.lit(1).cast("long").alias("n"),
        )
    )
    return semi.unionByName(anti).unionByName(setops)


@register(
    "q10_returned_revenue_topk",
    oracle=f"""
SELECT c_custkey, c_name, n_name, revenue
FROM (
  SELECT c.c_custkey, c.c_name, n.n_name,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,4))
                  * CAST(1 - l.l_discount AS DECIMAL(27,4))) AS DOUBLE) AS revenue,
         ROW_NUMBER() OVER (
           ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(27,4))
                        * CAST(1 - l.l_discount AS DECIMAL(27,4))) DESC,
                    c.c_custkey ASC) AS rk
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE l.l_returnflag = 'R'
  GROUP BY c.c_custkey, c.c_name, n.n_name
)
WHERE rk <= 20
""",
    tags=("join", "topk", "window"),
)
def q10_returned_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 top-K shape over a 4-way join (TPC-H Q10 adapted): top-20
    customers by returned-item revenue. The nation dim broadcasts;
    the decimal sum makes the double rank key bit-stable, so the
    window tiebreak is deterministic across engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    per_cust = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))
        .cast("double")
        .alias("revenue")
    )
    # orderBy+limit plans as TakeOrdered (per-partition top-20 + a
    # 20-row driver merge) — the former global ROW_NUMBER window
    # single-partitioned every customer's aggregate to keep 20 rows.
    # Same deterministic total order, so the kept set is identical.
    return per_cust.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


@register(
    "priority_conditional_agg",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY l_linestatus
""",
    tags=("join", "agg", "conditional"),
)
def priority_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (TPC-H Q12 adapted): per line status,
    how many 1995-shipped lineitems belong to high- vs low-priority
    orders. One pass, two CASE sums — no self-join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Window frames: lag delta + 7-row rolling mean over the daily series
# (SURVEY §2.5 notes the reference has no lead/lag/frame windows; the
# dashboard's day-over-day reading is done by eye. Free in Spark.)
# Folded into pivot_event_values (plans/relational_queries.py) — the
# daily matrix pivots value, delta, and rolling7 per type — to stay
# inside the driver's 50-query check budget.
# --------------------------------------------------------------------------


# Exact per-group percentiles are folded into event_types_time_range
# (one aggregation pass attests A9 + A10 + the distribution metrics)
# to stay inside the driver's 50-query check budget.


