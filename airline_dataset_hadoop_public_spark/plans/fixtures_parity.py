"""Reference-parity queries over the driver fixture tables.

Every operator in SURVEY.md §2 expressed on the TPC-H-ish fixture
corpus (FIXTURES.md §A gives the mapping rationale), each paired with a
DuckDB oracle. The airline-shaped originals of the same plans live in
``plans.airline`` and are exercised by tests on synthetic on-time data;
here the SAME operator compositions run on the driver's tables so the
correctness gate can hash-compare against ANSI SQL.

Citations: /root/reference/README.md line numbers identify the
reference job each query's shape is drawn from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import avg_by_key, distinct_union, explode_count
from ..operators.argmin import argmin_by
from ..operators.generators import date_series, permutation_triplets
from ..operators.topk import global_sort, global_top_k, rank_table, top_k_per_group
from ..sources.catalog import load_table
from .registry import register

# ---------------------------------------------------------------------------
# G1Q1 — airport popularity top-10 (A1 + T1).
# Reference: ArrivalsAndDeparturesPerAirport + Top10AirportsBy... jobs,
# README.md:143-161. Fixture analog: a key is "popular" when it appears
# in either lineitem.l_suppkey or l_partkey.
# ---------------------------------------------------------------------------

_G1Q1_ORACLE = """
SELECT key, cnt FROM (
  SELECT k AS key, COUNT(*) AS cnt
  FROM (SELECT l_suppkey AS k FROM lineitem
        UNION ALL SELECT l_partkey AS k FROM lineitem)
  GROUP BY k
) ORDER BY cnt DESC, key LIMIT 10
"""


def _popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return explode_count(li, ["l_suppkey", "l_partkey"], key="key", cnt="cnt")


@register("g1q1_top10_popularity", _G1Q1_ORACLE)
def g1q1_top10_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return global_top_k(
        _popularity(spark, sf_dir), [F.desc("cnt"), F.asc("key")], 10
    )


# ---------------------------------------------------------------------------
# G1Q2 — carrier on-time performance, top-10 ascending mean delay
# (A2 + T2). Reference: AvgDelayPerAirline + Top10AirlinesByDelay,
# README.md:167-185. Fixture analog: carrier≈o_orderpriority,
# delay≈o_totalprice.
# ---------------------------------------------------------------------------

_G1Q2_ORACLE = """
SELECT o_orderpriority, ROUND(AVG(o_totalprice), 4) AS avg_price
FROM orders GROUP BY o_orderpriority
ORDER BY avg_price ASC, o_orderpriority LIMIT 10
"""


@register("g1q2_top10_priority_by_avg_price", _G1Q2_ORACLE)
def g1q2_top10_priority_by_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    avg = avg_by_key(orders, ["o_orderpriority"], "o_totalprice", "avg_price")
    return global_top_k(avg, [F.asc("avg_price"), F.asc("o_orderpriority")], 10)


# ---------------------------------------------------------------------------
# G2Q1/G2Q2 — per-group top-10 of a 2-column-key average (A4 + T3).
# Reference: AvgDepDelayPerAirportCarrier + Top10CarriersByDepDelayPer-
# Airport, README.md:197-239 (and the Dest variant README.md:286-326).
# Fixture analog: per market segment, the 10 customers with the lowest
# average order price. The join side (customer) is dimension-sized →
# broadcast.
# ---------------------------------------------------------------------------

_G2Q1_ORACLE = """
SELECT c_mktsegment, o_custkey, avg_price FROM (
  SELECT c_mktsegment, o_custkey,
         ROUND(AVG(o_totalprice), 4) AS avg_price
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_custkey
) QUALIFY ROW_NUMBER() OVER (
    PARTITION BY c_mktsegment ORDER BY avg_price ASC, o_custkey) <= 10
"""


@register("g2q1_top10_customers_per_segment", _G2Q1_ORACLE)
def g2q1_top10_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # no broadcast hint: customer scales with the data (r10 broadcast
    # audit) — AQE broadcasts it at small sf, shuffles at 100 TB
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    )
    avg = avg_by_key(joined, ["c_mktsegment", "o_custkey"], "o_totalprice", "avg_price")
    return top_k_per_group(
        avg, ["c_mktsegment"], [F.asc("avg_price"), F.asc("o_custkey")], 10
    )


# ---------------------------------------------------------------------------
# G2Q2 — the destination variant of the same A4 + T3 family.
# Reference: AvgDepDelayPerAirportDest + Top10DestByDepDelayPerAirport,
# README.md:286-326. Fixture analog: per part brand, the 10 parts with
# the lowest average extended price (lineitem ⋈ part on partkey —
# part is the dimension side → broadcast).
# ---------------------------------------------------------------------------

_G2Q2_ORACLE = """
SELECT p_brand, l_partkey, avg_price FROM (
  SELECT p_brand, l_partkey,
         ROUND(AVG(l_extendedprice), 4) AS avg_price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_partkey
) QUALIFY ROW_NUMBER() OVER (
    PARTITION BY p_brand ORDER BY avg_price ASC, l_partkey) <= 10
"""


@register("g2q2_top10_parts_per_brand", _G2Q2_ORACLE)
def g2q2_top10_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    avg = avg_by_key(joined, ["p_brand", "l_partkey"], "l_extendedprice", "avg_price")
    return top_k_per_group(
        avg, ["p_brand"], [F.asc("avg_price"), F.asc("l_partkey")], 10
    )


# ---------------------------------------------------------------------------
# G2Q3 — per-(pair)-group top-10 of a 3-column-key average (A5 + T3).
# Reference: AvgArrDelayPerAirportPairCarrier + Top10CarriersByArrDelay-
# PerAirportPair, README.md:333-367. Fixture analog: per
# (l_returnflag, l_linestatus), the 10 ship-months with lowest average
# discount.
# ---------------------------------------------------------------------------

_G2Q3_ORACLE = """
SELECT l_returnflag, l_linestatus, ship_month, avg_discount FROM (
  SELECT l_returnflag, l_linestatus,
         CAST(MONTH(l_shipdate) AS BIGINT) AS ship_month,
         ROUND(AVG(l_discount), 4) AS avg_discount
  FROM lineitem
  GROUP BY l_returnflag, l_linestatus, MONTH(l_shipdate)
) QUALIFY ROW_NUMBER() OVER (
    PARTITION BY l_returnflag, l_linestatus
    ORDER BY avg_discount ASC, ship_month) <= 10
"""


@register("g2q3_top10_months_per_flagstatus", _G2Q3_ORACLE)
def g2q3_top10_months_per_flagstatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.month("l_shipdate").cast("long")
    )
    avg = avg_by_key(
        li, ["l_returnflag", "l_linestatus", "ship_month"], "l_discount", "avg_discount"
    )
    return top_k_per_group(
        avg,
        ["l_returnflag", "l_linestatus"],
        [F.asc("avg_discount"), F.asc("ship_month")],
        10,
    )


# ---------------------------------------------------------------------------
# A6 — distinct over a two-column union-all (the Airports job,
# README.md:447-454).
# ---------------------------------------------------------------------------

_A6_ORACLE = """
SELECT DISTINCT k AS key FROM (
  SELECT o_custkey AS k FROM orders
  UNION ALL SELECT c_custkey AS k FROM customer)
"""


@register("a6_distinct_keys", _A6_ORACLE)
def a6_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    )
    return distinct_union(
        orders.unionByName(cust.withColumnRenamed("o_custkey", "o_custkey")),
        ["o_custkey"],
        "key",
    )


# ---------------------------------------------------------------------------
# T4 — global descending sort of the popularity counts (G3Q1 phase 1,
# ArrivalsAndDeparturesPerAirportSortedByFrequency, README.md:381-398).
# X1 — its rank table (zipf.py input, README.md:375-430).
# ---------------------------------------------------------------------------

_T4_ORACLE = """
SELECT k AS key, COUNT(*) AS cnt
FROM (SELECT l_suppkey AS k FROM lineitem
      UNION ALL SELECT l_partkey AS k FROM lineitem)
GROUP BY k ORDER BY cnt DESC, key
"""


@register("t4_popularity_sorted", _T4_ORACLE)
def t4_popularity_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return global_sort(_popularity(spark, sf_dir), [F.desc("cnt"), F.asc("key")])


_X1_ORACLE = """
SELECT key, cnt, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS BIGINT) AS rank
FROM (
  SELECT k AS key, COUNT(*) AS cnt
  FROM (SELECT l_suppkey AS k FROM lineitem
        UNION ALL SELECT l_partkey AS k FROM lineitem)
  GROUP BY k)
"""


@register("x1_popularity_rank", _X1_ORACLE)
def x1_popularity_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = rank_table(_popularity(spark, sf_dir), [F.desc("cnt"), F.asc("key")])
    return ranked.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# J3 — permutation triplets with ≠ constraints (OriginStopDest,
# README.md:458-483), on nation names (25³ bounded).
# ---------------------------------------------------------------------------

_J3_ORACLE = """
SELECT a.n_name AS origin, b.n_name AS stop, c.n_name AS dest
FROM nation a CROSS JOIN nation b CROSS JOIN nation c
WHERE b.n_name <> a.n_name AND b.n_name <> c.n_name
"""


@register("j3_permutation_triplets", _J3_ORACLE)
def j3_permutation_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return permutation_triplets(nation, "n_name")


# ---------------------------------------------------------------------------
# J4 — cross join with a generated date series (Requests date expansion,
# README.md:487-498): every region × every day of 2008-01.
# ---------------------------------------------------------------------------

_J4_ORACLE = """
SELECT r_name, CAST(CAST(d AS DATE) AS VARCHAR) AS date_str
FROM region CROSS JOIN (
  SELECT UNNEST(GENERATE_SERIES(DATE '2008-01-01', DATE '2008-01-31',
                                INTERVAL 1 DAY)) AS d)
"""


@register("j4_region_date_series", _J4_ORACLE)
def j4_region_date_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    dates = date_series(spark, "2008-01-01", "2008-01-31", out="d")
    return region.crossJoin(F.broadcast(dates)).select(
        "r_name", F.col("d").cast("string").alias("date_str")
    )


# ---------------------------------------------------------------------------
# P2/P3/P5/P6/P7 — leg-candidate preparation on `events`:
# row filters (year-scope analog: first week), time-of-day predicate
# (noon rule, README.md:434-437,546), derived scheduled timestamp
# (sched = actual − delay-minutes, README.md:514), output formatting
# (HH:mm dd/MM/yyyy, README.md:507).
# ---------------------------------------------------------------------------

_LEGCAND_ORACLE = """
SELECT event_id, user_id, event_type,
       STRFTIME(ts - TO_MINUTES(CAST(FLOOR(value) AS BIGINT)),
                '%H:%M %d/%m/%Y') AS sched_dep,
       ROUND(value, 4) AS delay_min
FROM events
WHERE DATE_PART('day', ts) <= 7 AND DATE_PART('hour', ts) < 12
  AND isfinite(value)
"""


@register("p_leg_candidates", _LEGCAND_ORACLE)
def p_leg_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import finite_measure

    # a non-finite delay is a malformed row (P4 drop analog): floor()
    # of NaN/Inf cannot form a day-time interval on either engine
    ev = load_table(spark, sf_dir, "events").where(finite_measure("value"))
    return (
        ev.filter((F.dayofmonth("ts") <= 7) & (F.hour("ts") < 12))
        .withColumn("sched_ts", F.expr("ts - make_dt_interval(0, 0, floor(value), 0)"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("sched_ts", "HH:mm dd/MM/yyyy").alias("sched_dep"),
            F.round("value", 4).alias("delay_min"),
        )
    )


# ---------------------------------------------------------------------------
# G3Q2 — Tom's trip: equi-join requests↔legs + per-group argmin
# (TomsLegs1/2 MultipleInputs join + ReduceJoinReducer,
# README.md:537-549). Fixture analog (FIXTURES.md §A adapted):
# requests = distinct (o_custkey, day-of-month of o_orderdate); legs =
# events keyed (user_id, day-of-month of ts). Leg 1: morning legs
# (hour < 12) on the request day; leg 2: afternoon legs (hour >= 12) on
# request day + 2 (the −2d shifted join key, P8, README.md:542-543).
# Argmin by (value, event_id) — deterministic tie-break (§2.11).
# ---------------------------------------------------------------------------

def _toms_oracle(shift: int, hour_pred: str) -> str:
    return f"""
SELECT user_id, req_day, event_id, event_type, value,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS leg_ts
FROM (
  SELECT r.user_id, r.req_day, l.event_id, l.event_type, l.value, l.ts,
         ROW_NUMBER() OVER (PARTITION BY r.user_id, r.req_day
                            ORDER BY l.value, l.event_id) AS rn
  FROM (SELECT DISTINCT o_custkey AS user_id,
               CAST(DATE_PART('day', o_orderdate) AS BIGINT) AS req_day
        FROM orders) r
  JOIN (SELECT user_id, CAST(DATE_PART('day', ts) AS BIGINT) AS leg_day,
               event_id, event_type, value, ts
        FROM events WHERE {hour_pred}) l
    ON l.user_id = r.user_id AND l.leg_day = r.req_day + {shift}
) WHERE rn = 1
"""


def _toms_leg(spark: SparkSession, sf_dir: str, shift: int, morning: bool) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    requests = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.dayofmonth("o_orderdate").cast("long").alias("req_day"),
    ).distinct()
    hour_filter = F.hour("ts") < 12 if morning else F.hour("ts") >= 12
    legs = events.filter(hour_filter).select(
        F.col("user_id").alias("leg_user"),
        F.dayofmonth("ts").cast("long").alias("leg_day"),
        "event_id",
        "event_type",
        "value",
        "ts",
    )
    joined = requests.join(
        legs,
        (legs.leg_user == requests.user_id)
        & (legs.leg_day == requests.req_day + F.lit(shift)),
    )
    best = argmin_by(
        joined,
        group=["user_id", "req_day"],
        order=["value", "event_id"],
        payload=["event_type", "ts"],
    )
    return best.select(
        "user_id",
        "req_day",
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("leg_ts"),
    )


@register("g3q2_toms_leg1", _toms_oracle(0, "DATE_PART('hour', ts) < 12"))
def g3q2_toms_leg1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _toms_leg(spark, sf_dir, shift=0, morning=True)


@register("g3q2_toms_leg2", _toms_oracle(2, "DATE_PART('hour', ts) >= 12"))
def g3q2_toms_leg2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _toms_leg(spark, sf_dir, shift=2, morning=False)


# ---------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary — the generalized A-family aggregate
# (multi-agg groupBy) used as a bench headline; exercises sum/avg/count
# in one pass (the reference's AvgReducer family generalized).
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1_pricing", _Q1_ORACLE)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Window-frame running aggregate (§2.7 — absent from the reference's
# surface, exposed as an engine extension): per-user cumulative sum of
# event values in time order. Frame: rows unbounded preceding.
# ---------------------------------------------------------------------------

_RUNNING_ORACLE = """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS running_value
FROM events
"""


@register("events_running_sum", _RUNNING_ORACLE)
def events_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


# ---------------------------------------------------------------------------
# Join-type matrix beyond the reference's inner equi-joins (§2.5 notes
# outer/semi/anti are absent there): semi (customers with orders),
# anti (customers without), left outer with null-aware aggregation.
# ---------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
"""


@register("customers_with_orders_semi", _SEMI_ORACLE)
def customers_with_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


_ANTI_ORACLE = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT')
"""


@register("customers_without_urgent_orders_anti", _ANTI_ORACLE)
def customers_without_urgent_orders_anti(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


_OUTER_ORACLE = """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
       ROUND(COALESCE(SUM(o_totalprice), 0.0), 4) AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


@register("customer_order_stats_outer", _OUTER_ORACLE)
def customer_order_stats_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    return joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias(
            "total_spend"
        ),
    )


# ---------------------------------------------------------------------------
# lag/lead window (§2.7 — absent from the reference, engine extension):
# per-user delta between consecutive event values in time order.
# ---------------------------------------------------------------------------

_LAG_ORACLE = """
SELECT event_id, user_id,
       ROUND(value - LAG(value) OVER (PARTITION BY user_id
             ORDER BY ts, event_id), 4) AS delta
FROM events
"""


@register("events_lag_delta", _LAG_ORACLE)
def events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Exact interpolated percentiles per group (§2.3 extension — absent
# from the reference's aggregate set). Spark `percentile` and DuckDB
# `quantile_cont` share the linear-interpolation definition.
# ---------------------------------------------------------------------------

_PCTL_ORACLE = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90,
       ROUND(quantile_cont(value, 0.99), 4) AS p99
FROM events WHERE isfinite(value) GROUP BY event_type
"""


@register("events_value_percentiles", _PCTL_ORACLE)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import finite_measure

    ev = load_table(spark, sf_dir, "events").where(finite_measure("value"))
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Histogram binning: explicit width-bucket arithmetic (10 bins over
# [0, 100), underflow → 0, overflow → 11) written identically in both
# engines — DuckDB has no width_bucket builtin.
# ---------------------------------------------------------------------------

_HIST_BUCKET = (
    "CASE WHEN value < 0 THEN 0 "
    "WHEN value >= 100 THEN 11 "
    "ELSE CAST(FLOOR(value / 10) AS BIGINT) + 1 END"
)

_HIST_ORACLE = f"""
SELECT CAST({_HIST_BUCKET} AS BIGINT) AS bucket,
       COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value
FROM events GROUP BY 1
"""


@register("events_value_histogram", _HIST_ORACLE)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", F.expr(_HIST_BUCKET).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# Rollup aggregation (§2.3 extension — the reference has no grouping
# sets): revenue at (returnflag, linestatus), (returnflag), and total.
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
       COALESCE(l_linestatus, '<all>') AS l_linestatus,
       ROUND(SUM(l_extendedprice), 4) AS sum_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("lineitem_rollup_revenue", _ROLLUP_ORACLE)
def lineitem_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import ansi_empty_grouping_row

    li = load_table(spark, sf_dir, "lineitem")
    result = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "sum_price",
            "n",
        )
    )
    # ANSI emits the global grouping-set row even over an empty table
    return ansi_empty_grouping_row(
        li,
        result,
        [
            F.lit("<all>").alias("l_returnflag"),
            F.lit("<all>").alias("l_linestatus"),
            F.lit(None).cast("double").alias("sum_price"),
            F.lit(0).cast("long").alias("n"),
        ],
    )


# ---------------------------------------------------------------------------
# Distinct-count aggregate (extension; reference has plain distinct A6
# but no count-distinct): active users + value total per event type.
# ---------------------------------------------------------------------------

_CNTD_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY event_type
"""


@register("events_distinct_users", _CNTD_ORACLE)
def events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q3/Q6-shaped bench classics: 3-way join + agg + top-k, and a
# pure filter-aggregate — the canonical join-order / pushdown shapes.
# ---------------------------------------------------------------------------

_Q3_ORACLE = """
SELECT l_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


@register("tpch_q3_shipping_priority", _Q3_ORACLE)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.to_timestamp(F.lit("1995-03-15 00:00:00"))
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(cust, orders.o_custkey == cust.c_custkey)
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )
    return global_top_k(agg, [F.desc("revenue"), F.asc("l_orderkey")], 10).select(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "revenue",
    )


_Q6_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("tpch_q6_forecast_revenue", _Q6_ORACLE)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1994-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1995-01-01 00:00:00")))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Bucketed range join (extension — SURVEY.md §2.5 notes the reference
# has no range joins): each user's events inside their first-48h
# activity window. The oracle runs the plain theta join; the Spark
# side runs the time-bucketed equi-join + residual-filter layout.
# ---------------------------------------------------------------------------

_RANGE_JOIN_ORACLE = """
WITH win AS (
  SELECT user_id, MIN(ts) AS w_start,
         MIN(ts) + INTERVAL 48 HOUR AS w_end
  FROM events GROUP BY user_id)
SELECT e.user_id, COUNT(*) AS n_in_window,
       ROUND(SUM(e.value), 4) AS sum_value
FROM events e JOIN win w
  ON e.user_id = w.user_id AND e.ts >= w.w_start AND e.ts <= w.w_end
GROUP BY e.user_id
"""


@register("events_first48h_window_join", _RANGE_JOIN_ORACLE)
def events_first48h_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_join import point_in_interval_join

    ev = load_table(spark, sf_dir, "events")
    win = ev.groupBy("user_id").agg(
        F.min("ts").alias("w_start"),
        (F.min("ts") + F.expr("INTERVAL 48 HOURS")).alias("w_end"),
    )
    joined = point_in_interval_join(
        ev.select("user_id", "ts", "value"),
        win,
        start_col="w_start",
        end_col="w_end",
        equi_keys=["user_id"],
        bucket_seconds=86_400,
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_in_window"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# As-of join (extension): each click event annotated with the user's
# most recent preceding purchase. Spark side: single-shuffle
# union+window carry-forward; oracle: DuckDB's native ASOF JOIN.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
SELECT a.event_id, a.user_id,
       ROUND(b.value, 4) AS last_purchase_value,
       STRFTIME(b.ts, '%Y-%m-%d %H:%M:%S') AS last_purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') a
ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id AND a.ts >= b.ts
"""


@register("events_asof_last_purchase", _ASOF_ORACLE)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_join import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    joined = asof_join(
        clicks.select("event_id", "user_id", "ts"),
        purchases,
        keys=["user_id"],
        left_ts="ts",
        right_ts="p_ts",
        payload=["p_value", "p_ts"],
        id_col="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round("p_value", 4).alias("last_purchase_value"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("last_purchase_ts"),
    )


# ---------------------------------------------------------------------------
# events.props JSON extraction (FIXTURES.md §A extensions row):
# semi-structured column handling via get_json_object.
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_type,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
       COUNT(*) AS cnt
FROM events GROUP BY event_type
"""


@register("events_json_extract", _JSON_ORACLE)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k", F.get_json_object("props", "$.k").cast("double")
        )
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


# from_json with an explicit schema — the typed-struct flattening path
# (vs get_json_object's per-path string extraction above). Catalyst's
# OptimizeJsonExprs collapses the struct access into a single parse.
_JSON_STRUCT_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k,
       json_extract_string(props, '$.tag') AS tag
FROM events
"""


@register("events_json_struct", _JSON_STRUCT_ORACLE)
def events_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "__p", F.from_json("props", "k double, tag string")
    )
    return parsed.select("event_id", F.col("__p.k").alias("k"), F.col("__p.tag").alias("tag"))


# ---------------------------------------------------------------------------
# X1 completion — the G3Q1 plot-data table (README.md:405-427): the
# reference fits rank-frequency curves and renders a log-log chart;
# the engine-side analog is the zipf log-log least-squares fit as a
# DISTRIBUTED regression aggregate (one pass, no driver-side numpy)
# cross-joined back onto the rank table so every rank carries its
# fitted value — exactly the series the reference plots. The full
# four-distribution comparison stays in analytics.py (driver tail,
# SURVEY §2.9); this query is the engine-side data product.
# ---------------------------------------------------------------------------

_X1_FIT_ORACLE = """
WITH c AS (
  SELECT k AS key, COUNT(*) AS cnt
  FROM (SELECT l_suppkey AS k FROM lineitem
        UNION ALL SELECT l_partkey AS k FROM lineitem)
  GROUP BY k
),
ranked AS (
  SELECT key, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC) AS rank
  FROM c
),
fit AS (
  SELECT regr_slope(ln(cnt), ln(rank)) AS slope,
         regr_intercept(ln(cnt), ln(rank)) AS icept
  FROM ranked
)
SELECT rank, key, cnt,
       ROUND(exp(icept) * rank ^ slope, 4) AS fitted_cnt
FROM ranked CROSS JOIN fit
ORDER BY rank
"""


@register("x1_zipf_loglog_fit", _X1_FIT_ORACLE)
def x1_zipf_loglog_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = rank_table(
        _popularity(spark, sf_dir), [F.desc("cnt"), F.asc("key")]
    ).withColumn("rank", F.col("rank").cast("long"))
    fit = ranked.agg(
        F.expr("regr_slope(ln(cnt), ln(rank))").alias("slope"),
        F.expr("regr_intercept(ln(cnt), ln(rank))").alias("icept"),
    )
    return (
        ranked.crossJoin(F.broadcast(fit))
        .select(
            "rank",
            "key",
            "cnt",
            F.round(
                F.exp(F.col("icept")) * F.pow(F.col("rank"), F.col("slope")), 4
            ).alias("fitted_cnt"),
        )
        .orderBy("rank")
    )
