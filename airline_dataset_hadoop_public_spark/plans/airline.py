"""The seven reference queries (SURVEY.md §2.11) in their native
airline shape, composed from the operator library.

These run over an `ontime` DataFrame with the reference's eight input
columns (/root/reference/README.md:510); the driver-facing fixture
analogs of the same operator compositions live in fixtures_parity.py.
Each function cites the reference job it reproduces. Per-query cleaning
(P4 — drop rows with missing/malformed fields *for that query's
columns*, README.md:111-112) is applied inside each query, mirroring
the reference's per-job PrepareData projections.

Pinned semantic decisions (SURVEY.md §2.11/§2.4):
- Tie-breaks: every ranking adds an ascending key-column tie-break.
- Noon rule (README.md:436,546): leg 1 scheduled departure strictly
  before 12:00, leg 2 strictly after 12:00 (noon itself in neither).
- Date repair (README.md:513): DepTime hour > 23 rolls into the next
  day (27:30 on the 5th → 03:30 on the 6th).
- Scheduled departure (README.md:514): actual DepTime − DepDelay min.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import avg_by_key, distinct_union, explode_count
from ..operators.argmin import argmin_by
from ..operators.generators import date_series, permutation_triplets
from ..operators.topk import global_sort, global_top_k, rank_table, top_k_per_group

_NOON_SEC = 12 * 3600
# Every reference ranking job is a Top10* (README.md:151,175,195).
_TOP_K = 10
# Tom's trip (G3Q2) flies in 2008 only (P2, README.md:512).
_YEAR = 2008
# Leg number → (noon side of `sched_sec`, the request columns the leg
# flies from and to, days from request_date to the flight date).
_LEG_SPEC = {
    1: (operator.lt, "origin", "stop", 0),
    2: (operator.gt, "stop", "dest", 2),
}


def _popularity(ontime: DataFrame) -> DataFrame:
    """Arrivals + departures per airport, the one ArrivalsAndDepartures
    job behind G1Q1 and G3Q1 (README.md:147-149)."""
    clean = ontime.na.drop(subset=["Origin", "Dest"])
    return explode_count(clean, ["Origin", "Dest"], key="airport", cnt="flights")


def _lowest_mean_per_group(
    ontime: DataFrame, group: list[str], key: str, value: str, out: str
) -> DataFrame:
    """Per `group`, the top `key`s by lowest mean `value`, tie-broken on
    `key` — the AvgReducer + Top10*Per* pair behind G2Q1-G2Q3."""
    clean = ontime.na.drop(subset=[*group, key, value])
    avg = avg_by_key(clean, [*group, key], value, out)
    return top_k_per_group(avg, group, [F.asc(out), F.asc(key)], _TOP_K)


def g1q1_airport_popularity(ontime: DataFrame) -> DataFrame:
    """Top-10 airports by arrivals + departures
    (ArrivalsAndDeparturesPerAirport + Top10..., README.md:143-161)."""
    return global_top_k(
        _popularity(ontime), [F.desc("flights"), F.asc("airport")], _TOP_K
    )


def g1q2_carrier_on_time(ontime: DataFrame) -> DataFrame:
    """Top-10 carriers by mean arrival delay, ascending = most on-time
    (AvgDelayPerAirline + Top10AirlinesByDelay, README.md:167-185)."""
    clean = ontime.na.drop(subset=["UniqueCarrier", "ArrDelay"])
    avg = avg_by_key(clean, ["UniqueCarrier"], "ArrDelay", "avg_arr_delay")
    return global_top_k(avg, [F.asc("avg_arr_delay"), F.asc("UniqueCarrier")], _TOP_K)


def g2q1_carriers_per_airport(ontime: DataFrame) -> DataFrame:
    """Per origin airport, the 10 carriers with lowest mean DepDelay
    (AvgDepDelayPerAirportCarrier + Top10CarriersByDepDelayPerAirport,
    README.md:197-239)."""
    return _lowest_mean_per_group(
        ontime, ["Origin"], "UniqueCarrier", "DepDelay", "avg_dep_delay"
    )


def g2q2_dests_per_airport(ontime: DataFrame) -> DataFrame:
    """Per origin airport, the 10 destinations with lowest mean DepDelay
    (AvgDepDelayPerAirportDest + Top10DestByDepDelayPerAirport,
    README.md:286-326)."""
    return _lowest_mean_per_group(
        ontime, ["Origin"], "Dest", "DepDelay", "avg_dep_delay"
    )


def g2q3_carriers_per_route(ontime: DataFrame) -> DataFrame:
    """Per (origin, dest) route, the 10 carriers with lowest mean
    ArrDelay (AvgArrDelayPerAirportPairCarrier + Top10CarriersBy-
    ArrDelayPerAirportPair, README.md:333-367)."""
    return _lowest_mean_per_group(
        ontime, ["Origin", "Dest"], "UniqueCarrier", "ArrDelay", "avg_arr_delay"
    )


def g3q1_popularity_ranked(ontime: DataFrame) -> DataFrame:
    """All airport popularity counts, globally sorted descending with
    a dense 1-based rank — the input to the zipf/poisson fit
    (ArrivalsAndDeparturesPerAirportSortedByFrequency + zipf.py,
    README.md:375-430). Feed `.toPandas()` of this into
    analytics.fit_rank_distribution for the offline tail."""
    ranked = rank_table(_popularity(ontime), [F.desc("flights"), F.asc("airport")])
    return global_sort(ranked, [F.asc("rank")])


def airports(ontime: DataFrame) -> DataFrame:
    """Distinct non-NULL airport codes from Origin and Dest, in one scan
    (A6, the Airports job, README.md:447-454)."""
    return distinct_union(ontime, ["Origin", "Dest"], "airport").na.drop()


def requests(
    spark: SparkSession,
    airports_df: DataFrame,
    start: str = "2008-01-01",
    end: str = "2008-12-31",
) -> DataFrame:
    """(origin, stop, dest, request_date) — airport permutation
    triplets × the 2008 date series (OriginStopDest + Requests,
    README.md:458-503). At full scale |airports|³×366 rows is huge:
    the plan is lazy, and a caller that wants the reference's dev-time
    cap (T5, README.md:500) takes `.limit(n)` of the result."""
    triplets = permutation_triplets(airports_df, "airport")
    dates = date_series(spark, start, end, out="request_date")
    return triplets.crossJoin(F.broadcast(dates))


def leg_candidates(ontime: DataFrame) -> DataFrame:
    """Flight legs eligible for Tom's trip (LegCandidates,
    README.md:505-534): project the 8 columns, keep 2008 flights
    (P2), drop rows with missing fields (P4), repair DepTime hour > 23
    by rolling into the next day (P5, README.md:513), and derive the
    scheduled departure = actual − DepDelay minutes (P6,
    README.md:514). `sched_sec` (seconds after midnight) carries the
    noon predicate; `sched_dep_fmt` is the reference's output format
    (P7, 'HH:mm dd/MM/yyyy', README.md:507)."""
    clean = (
        ontime.filter(F.year("FlightDate") == _YEAR)
        .na.drop(
            subset=[
                "Origin",
                "Dest",
                "FlightDate",
                "UniqueCarrier",
                "FlightNum",
                "DepTime",
                "DepDelay",
                "ArrDelay",
            ]
        )
        .filter(F.col("DepTime").rlike("^[0-9]{4}$"))
    )
    hh = F.substring("DepTime", 1, 2).cast("int")
    mm = F.substring("DepTime", 3, 2).cast("int")
    rolled = hh > 23
    dep_date = F.when(rolled, F.date_add("FlightDate", 1)).otherwise(
        F.col("FlightDate")
    )
    dep_ts = F.to_timestamp(
        F.concat(
            F.date_format(dep_date, "yyyy-MM-dd"),
            F.lit(" "),
            F.format_string("%02d:%02d", F.when(rolled, hh - 24).otherwise(hh), mm),
        )
    )
    return (
        clean.withColumn("dep_ts", dep_ts)
        .withColumn(
            "sched_dep", F.expr("dep_ts - make_dt_interval(0, 0, DepDelay, 0)")
        )
        .select(
            "Origin",
            "Dest",
            "FlightDate",
            "UniqueCarrier",
            "FlightNum",
            "ArrDelay",
            "sched_dep",
            (
                F.hour("sched_dep") * 3600
                + F.minute("sched_dep") * 60
                + F.second("sched_dep")
            ).alias("sched_sec"),
            F.date_format("sched_dep", "HH:mm dd/MM/yyyy").alias("sched_dep_fmt"),
        )
    )


def toms_leg(requests_df: DataFrame, legs: DataFrame, leg_no: int) -> DataFrame:
    """One leg of Tom's trip (TomsLegs1/2, README.md:537-570).

    leg 1: origin→stop on request_date, scheduled dep before 12:00;
    leg 2: stop→dest on request_date + 2 days, scheduled dep after
    12:00 (P8 date-shifted join key, README.md:542-543). Per request,
    keep the candidate with least ArrDelay (A7, tie-broken on
    (UniqueCarrier, FlightNum) for determinism — README exposes no
    tie rule, SURVEY.md §2.4)."""
    if leg_no not in _LEG_SPEC:
        raise ValueError("leg_no must be 1 or 2")
    noon_side, frm, to, shift = _LEG_SPEC[leg_no]
    # Both sides can share lineage (requests are generated from the
    # same ontime frame), and Spark's case-insensitive resolution
    # would conflate `origin`/`Origin` — alias-qualify everything.
    req = requests_df.alias("req")
    leg = legs.filter(noon_side(F.col("sched_sec"), _NOON_SEC)).alias("leg")
    leg_date = F.col("req.request_date")
    if shift:
        leg_date = F.date_add(leg_date, shift)
    join_cond = (
        (F.col("leg.Origin") == F.col(f"req.{frm}"))
        & (F.col("leg.Dest") == F.col(f"req.{to}"))
        & (F.col("leg.FlightDate") == leg_date)
    )
    joined = req.join(leg, join_cond).select(
        F.col("req.origin").alias("origin"),
        F.col("req.stop").alias("stop"),
        F.col("req.dest").alias("dest"),
        F.col("req.request_date").alias("request_date"),
        F.col("leg.Origin").alias("leg_origin"),
        F.col("leg.Dest").alias("leg_dest"),
        F.col("leg.FlightDate").alias("leg_date"),
        F.col("leg.UniqueCarrier").alias("carrier"),
        F.col("leg.FlightNum").alias("flight_num"),
        F.col("leg.ArrDelay").alias("arr_delay"),
        F.col("leg.sched_sec").alias("sched_sec"),
        F.col("leg.sched_dep_fmt").alias("sched_dep_fmt"),
    )
    return argmin_by(
        joined,
        group=["origin", "stop", "dest", "request_date"],
        order=["arr_delay", "carrier", "flight_num"],
        payload=["leg_origin", "leg_dest", "leg_date", "sched_sec", "sched_dep_fmt"],
    )
