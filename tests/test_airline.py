"""Airline-native query family over synthetic BTS-shaped data
(FIXTURES.md §B): golden-layout assertions and the SURVEY.md §5.2
pipeline invariants, plus the S1-S3 CSV ingest path."""

from __future__ import annotations

import csv
import datetime as dt
import os

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def ontime(spark):
    from airline_dataset_hadoop_public_spark.testing.ontime import ontime_df

    return ontime_df(spark).cache()


def test_g1q1_matches_pandas_ground_truth(spark, ontime):
    from airline_dataset_hadoop_public_spark.plans.airline import (
        g1q1_airport_popularity,
    )

    got = [(r["airport"], r["flights"]) for r in g1q1_airport_popularity(ontime).collect()]
    pdf = ontime.select("Origin", "Dest").toPandas().dropna()
    counts = pdf["Origin"].value_counts().add(pdf["Dest"].value_counts(), fill_value=0)
    expect = sorted(
        ((a, int(c)) for a, c in counts.items()), key=lambda t: (-t[1], t[0])
    )[:10]
    assert got == expect


def test_g1q2_ascending_and_nulls_skipped(spark, ontime):
    from airline_dataset_hadoop_public_spark.plans.airline import g1q2_carrier_on_time

    rows = g1q2_carrier_on_time(ontime).collect()
    vals = [r["avg_arr_delay"] for r in rows]
    assert vals == sorted(vals) and len(rows) == 10


def test_g2_families_k_bound_and_monotone(spark, ontime):
    from airline_dataset_hadoop_public_spark.plans import airline as A

    for fn, grp, val in (
        (A.g2q1_carriers_per_airport, ["Origin"], "avg_dep_delay"),
        (A.g2q2_dests_per_airport, ["Origin"], "avg_dep_delay"),
        (A.g2q3_carriers_per_route, ["Origin", "Dest"], "avg_arr_delay"),
    ):
        out = fn(ontime)
        sizes = out.groupBy(*grp).count().agg(F.max("count")).collect()[0][0]
        assert sizes <= 10
        # per-group values are the k smallest → group max ≤ global max
        assert out.filter(F.col(val).isNull()).count() == 0


def test_g3q1_rank_is_dense_from_one(spark, ontime):
    from airline_dataset_hadoop_public_spark.plans.airline import g3q1_popularity_ranked

    rows = g3q1_popularity_ranked(ontime).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    flights = [r["flights"] for r in rows]
    assert flights == sorted(flights, reverse=True)


def test_leg_candidates_invariants(spark, ontime):
    from airline_dataset_hadoop_public_spark.plans.airline import leg_candidates

    legs = leg_candidates(ontime).cache()
    # P2: only 2008 flights (sched_dep may roll into 2009-01-01)
    assert legs.filter(F.year("FlightDate") != 2008).count() == 0
    # P4: no nulls in any required column
    for c in legs.columns:
        assert legs.filter(F.col(c).isNull()).count() == 0, c
    # P6: sched_dep = dep_ts − DepDelay — spot-check via reconstruction:
    # sched + delay lands on the (possibly repaired) DepTime wall-clock
    src = ontime.filter(
        (F.year("FlightDate") == 2008) & F.col("DepTime").rlike("^[0-9]{4}$")
    ).na.drop()
    n_raw = src.count()
    assert legs.count() == n_raw  # nothing lost beyond cleaning


def test_p5_hour_rollover_rolls_date(spark):
    from airline_dataset_hadoop_public_spark.plans.airline import leg_candidates
    from airline_dataset_hadoop_public_spark.sources.ingest import ONTIME_SCHEMA

    row = dict(
        FlightDate=dt.date(2008, 12, 31),
        UniqueCarrier="AA",
        FlightNum=1,
        Origin="ORD",
        Dest="JFK",
        DepTime="2530",  # hour 25 → 01:30 on 2009-01-01
        DepDelay=0.0,
        ArrDelay=1.0,
    )
    df = spark.createDataFrame([row], schema=ONTIME_SCHEMA)
    [leg] = leg_candidates(df).collect()
    assert leg["sched_dep_fmt"] == "01:30 01/01/2009"
    assert leg["sched_sec"] == 1 * 3600 + 30 * 60


def test_toms_trip_invariants(spark, ontime):
    from airline_dataset_hadoop_public_spark.plans import airline as A

    legs = A.leg_candidates(ontime).cache()
    reqs = A.requests(spark, A.airports(ontime), "2008-06-01", "2008-06-30")
    # bound the request space for the test: only ORD/ATL/DFW triplets
    reqs = reqs.filter(
        F.col("origin").isin("ORD", "ATL", "DFW")
        & F.col("dest").isin("ORD", "ATL", "DFW")
    ).cache()

    leg1 = A.toms_leg(reqs, legs, 1).cache()
    leg2 = A.toms_leg(reqs, legs, 2).cache()
    # noon rule: leg1 strictly before noon, leg2 strictly after
    assert leg1.filter(~(F.col("sched_sec") < 43200)).count() == 0
    assert leg2.filter(~(F.col("sched_sec") > 43200)).count() == 0
    # date law: leg1 on request date, leg2 on request date + 2
    assert leg1.filter(F.col("leg_date") != F.col("request_date")).count() == 0
    assert leg2.filter(
        F.col("leg_date") != F.date_add("request_date", 2)
    ).count() == 0
    # route law
    assert leg1.filter(
        (F.col("leg_origin") != F.col("origin"))
        | (F.col("leg_dest") != F.col("stop"))
    ).count() == 0
    assert leg2.filter(
        (F.col("leg_origin") != F.col("stop"))
        | (F.col("leg_dest") != F.col("dest"))
    ).count() == 0
    # argmin law: one row per request, ArrDelay is the group minimum
    assert (
        leg1.groupBy("origin", "stop", "dest", "request_date")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )


def test_airports_is_one_scan_of_origin_and_dest(spark, ontime):
    """A6 (Airports job): one leaf in the optimized plan, and the same
    set as a pandas union of the non-NULL Origin and Dest codes."""
    from airline_dataset_hadoop_public_spark.plans.airline import airports

    out = airports(ontime)
    assert out.columns == ["airport"]
    assert out._jdf.queryExecution().optimizedPlan().collectLeaves().size() == 1
    got = [r["airport"] for r in out.collect()]
    pdf = ontime.select("Origin", "Dest").toPandas()
    expect = set(pdf["Origin"].dropna()) | set(pdf["Dest"].dropna())
    assert len(got) == len(set(got)) and set(got) == expect


def test_toms_legs_noon_ties_and_hour_rollover(spark):
    """Hand-built legs through leg_candidates and toms_leg: the noon
    rule (12:00 itself in neither leg), the (carrier, flight_num)
    tie-break of equal ArrDelays, and DepTime hour > 23 rows near noon,
    which must come out as the DuckDB oracle's rule (perfbench/oracle.py
    `_LEGS` and `_LEG_ON`) has them."""
    import duckdb

    from airline_dataset_hadoop_public_spark.plans import airline as A
    from airline_dataset_hadoop_public_spark.sources.ingest import ONTIME_SCHEMA
    from perfbench.oracle import _LEGS, LEG_COLUMNS, _leg_sql

    d8, d10, d12 = (dt.date(2008, 3, day) for day in (8, 10, 12))
    # (FlightDate, UniqueCarrier, FlightNum, Origin, Dest, DepTime,
    #  DepDelay, ArrDelay); a noon row has the least ArrDelay of its
    # route, so it would win if the noon rule let it in.
    rows = [
        # request (AAA, BBB, CCC, 3/10): noon rule
        (d10, "UA", 1, "AAA", "BBB", "1200", 0.0, -50.0),
        (d10, "UA", 2, "AAA", "BBB", "1159", 0.0, 5.0),
        (d12, "UA", 3, "BBB", "CCC", "1200", 0.0, -50.0),
        (d12, "UA", 4, "BBB", "CCC", "1201", 0.0, 7.0),
        (d10, "UA", 5, "BBB", "CCC", "1201", 0.0, -99.0),  # request day, not +2
        # request (DDD, EEE, FFF, 3/10): equal ArrDelay, lowest key wins
        (d10, "WN", 20, "DDD", "EEE", "0800", 0.0, 3.0),
        (d10, "AA", 30, "DDD", "EEE", "0900", 0.0, 3.0),
        (d10, "AA", 10, "DDD", "EEE", "1000", 0.0, 3.0),
        (d10, "WN", 5, "DDD", "EEE", "0700", 0.0, 3.0),
        (d12, "DL", 7, "EEE", "FFF", "1500", 0.0, -2.0),
        (d12, "DL", 5, "EEE", "FFF", "1600", 0.0, -2.0),
        # request (GGG, HHH, III, 3/10): 35:59 → 11:59 on 3/11
        (d10, "B6", 1, "GGG", "HHH", "3559", 0.0, 1.0),
        # request (JJJ, KKK, LLL, 3/8), leg 2 flies on 3/10: 36:00 is
        # noon on 3/11; 36:01 and 25:30 − 120 min are after noon
        (d10, "B6", 2, "KKK", "LLL", "3600", 0.0, -10.0),
        (d10, "B6", 3, "KKK", "LLL", "3601", 0.0, 4.0),
        (d10, "B6", 4, "KKK", "LLL", "2530", 120.0, 6.0),
    ]
    reqs = [
        ("AAA", "BBB", "CCC", d10),
        ("DDD", "EEE", "FFF", d10),
        ("GGG", "HHH", "III", d10),
        ("JJJ", "KKK", "LLL", d8),
    ]
    cands = A.leg_candidates(spark.createDataFrame(rows, schema=ONTIME_SCHEMA))
    req_df = spark.createDataFrame(
        reqs, "origin string, stop string, dest string, request_date date"
    )
    got = {}
    for no in (1, 2):
        leg = A.toms_leg(req_df, cands, no).select(LEG_COLUMNS)
        got[no] = sorted(map(tuple, leg.collect()))
    picked = {
        no: {(r[0], r[5], r[6], r[11]) for r in got[no]} for no in (1, 2)
    }
    assert picked[1] == {
        ("AAA", "UA", 2, "11:59 10/03/2008"),
        ("DDD", "AA", 10, "10:00 10/03/2008"),
        ("GGG", "B6", 1, "11:59 11/03/2008"),
    }
    assert picked[2] == {
        ("AAA", "UA", 4, "12:01 12/03/2008"),
        ("DDD", "DL", 5, "16:00 12/03/2008"),
        ("JJJ", "B6", 3, "12:01 11/03/2008"),
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ontime (FlightDate DATE, UniqueCarrier VARCHAR, "
        "FlightNum INTEGER, Origin VARCHAR, Dest VARCHAR, DepTime VARCHAR, "
        "DepDelay DOUBLE, ArrDelay DOUBLE)"
    )
    con.executemany("INSERT INTO ontime VALUES (?, ?, ?, ?, ?, ?, ?, ?)", rows)
    con.execute(_LEGS)
    con.execute(
        "CREATE TABLE requests (origin VARCHAR, stop VARCHAR, dest VARCHAR, "
        "request_date DATE)"
    )
    con.executemany("INSERT INTO requests VALUES (?, ?, ?, ?)", reqs)
    for no in (1, 2):
        assert got[no] == sorted(con.execute(_leg_sql(no)).fetchall()), no
    con.close()
    with pytest.raises(ValueError):
        A.toms_leg(req_df, cands, 3)


def _write_csv_tree(root, rows):
    """Rows as a nested monthly CSV layout, as the unzipped reference
    tree (S1): the first half under ``1988_1``, the rest under
    ``2008_6``."""
    from airline_dataset_hadoop_public_spark.sources.ingest import ONTIME_SCHEMA

    header = ONTIME_SCHEMA.fieldNames()
    half = len(rows) // 2
    for sub, part in (("1988_1", rows[:half]), ("2008_6", rows[half:])):
        d = root / sub
        d.mkdir(parents=True)
        with open(d / f"ontime_{sub}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            for r in part:
                w.writerow([r[c] if r[c] is not None else "" for c in header])


def test_csv_ingest_and_partition_pruning(spark, tmp_path):
    from airline_dataset_hadoop_public_spark.sources.ingest import (
        canonicalize,
        read_canonical,
        read_ontime_csv,
    )
    from airline_dataset_hadoop_public_spark.testing.ontime import generate_ontime_rows

    _write_csv_tree(tmp_path / "csv", generate_ontime_rows(500, seed=7))

    df = read_ontime_csv(spark, str(tmp_path / "csv"))
    assert df.count() == 500
    # S3: file-level predicate via glob
    df_2008 = read_ontime_csv(spark, str(tmp_path / "csv"), path_glob="*2008*.csv")
    assert df_2008.count() == 250

    canonicalize(df, str(tmp_path / "parquet"))
    canon = read_canonical(spark, str(tmp_path / "parquet"))
    pruned = canon.filter(F.col("Year") == 2008)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "Year" in plan
    assert pruned.count() == canon.filter(F.year("FlightDate") == 2008).count()


@pytest.fixture(scope="module")
def small_canonical(spark, tmp_path_factory):
    """A canonicalized CSV tree of 5,000 rows, far below
    ``ingest._ONE_PARTITION_MAX_BYTES``; returns its path."""
    from airline_dataset_hadoop_public_spark.sources.ingest import (
        canonicalize,
        read_ontime_csv,
    )
    from airline_dataset_hadoop_public_spark.testing.ontime import generate_ontime_rows

    tmp = tmp_path_factory.mktemp("small-canonical")
    _write_csv_tree(tmp / "csv", generate_ontime_rows(5_000, seed=7))
    canonicalize(read_ontime_csv(spark, str(tmp / "csv")), str(tmp / "parquet"))
    return str(tmp / "parquet")


def test_small_canonical_table_runs_each_family_in_one_job(
    spark, spark_jobs, small_canonical, monkeypatch
):
    """A table of at most ``_ONE_PARTITION_MAX_BYTES`` is read as one
    partition, which satisfies every aggregate, window and sort of a
    family: no exchange is planned and each family runs one Spark job.
    With the bound below the table's size the read splits as before,
    and g2q1 runs a job per exchange plus one."""
    from airline_dataset_hadoop_public_spark.plans import airline as A
    from airline_dataset_hadoop_public_spark.sources import ingest

    families = (
        A.g1q1_airport_popularity,
        A.g1q2_carrier_on_time,
        A.g2q1_carriers_per_airport,
        A.g2q2_dests_per_airport,
        A.g2q3_carriers_per_route,
        A.g3q1_popularity_ranked,
        A.airports,
    )
    ontime = ingest.read_canonical(spark, small_canonical)
    for fn in families:
        rows, jobs = spark_jobs(
            f"test-small-{fn.__name__}", lambda fn=fn: fn(ontime).collect()
        )
        assert rows and jobs == 1, fn.__name__

    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(small_canonical)
        for f in files
        if f.endswith(".parquet")
    )
    monkeypatch.setattr(ingest, "_ONE_PARTITION_MAX_BYTES", size - 1)
    split = ingest.read_canonical(spark, small_canonical)
    _, jobs = spark_jobs(
        "test-split-g2q1", lambda: A.g2q1_carriers_per_airport(split).collect()
    )
    assert jobs == 3


def test_one_partition_read_answers_as_the_split_read(spark, small_canonical):
    """The one-partition canonical read gives the multi-partition
    read's answers. Counts, airports and Tom's legs are equal; the
    averaged families pick the same groups with means one rounding
    step apart at most, since the summation order can flip
    ``round(avg, 4)`` on an exact tie."""
    from airline_dataset_hadoop_public_spark.plans import airline as A
    from airline_dataset_hadoop_public_spark.sources.ingest import read_canonical
    from airline_dataset_hadoop_public_spark.sources.serving import point_read

    one = read_canonical(spark, small_canonical)
    split = point_read(spark, small_canonical)
    assert one.rdd.getNumPartitions() == 1 < split.rdd.getNumPartitions()

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for fn in (A.g1q1_airport_popularity, A.g3q1_popularity_ranked, A.airports):
        assert rows(fn(one)) == rows(fn(split)), fn.__name__

    def legs(ontime):
        reqs = A.requests(spark, A.airports(ontime), "2008-01-01", "2008-03-31")
        reqs = reqs.filter(
            F.col("origin").isin("ORD", "ATL", "DFW")
            & F.col("dest").isin("ORD", "ATL", "DFW")
        )
        cands = A.leg_candidates(ontime)
        return [rows(A.toms_leg(reqs, cands, no)) for no in (1, 2)]

    got, want = legs(one), legs(split)
    assert all(want) and got == want

    for fn, keys, out in (
        (A.g1q2_carrier_on_time, ["UniqueCarrier"], "avg_arr_delay"),
        (A.g2q1_carriers_per_airport, ["Origin", "UniqueCarrier"], "avg_dep_delay"),
        (A.g2q2_dests_per_airport, ["Origin", "Dest"], "avg_dep_delay"),
        (
            A.g2q3_carriers_per_route,
            ["Origin", "Dest", "UniqueCarrier"],
            "avg_arr_delay",
        ),
    ):
        means = [
            {tuple(r[k] for k in keys): r[out] for r in fn(df).collect()}
            for df in (one, split)
        ]
        assert means[0].keys() == means[1].keys(), fn.__name__
        assert all(
            abs(means[0][k] - means[1][k]) <= 1e-4 + 1e-9 for k in means[0]
        ), fn.__name__


def test_golden_report_layout_g2q1(spark, ontime, tmp_path):
    """Reference README-style report: per named airport, up to 10
    'ORIGIN CARRIER avg' lines, best (lowest) first — the G2Q1 sample
    layout (README.md:204-239) — written through the S4 text sink."""
    from airline_dataset_hadoop_public_spark.functions.scalar import composite_key
    from airline_dataset_hadoop_public_spark.plans.airline import (
        g2q1_carriers_per_airport,
    )
    from airline_dataset_hadoop_public_spark.sources.serving import write_text_report

    focus = ["CMI", "BWI", "MIA", "LAX", "IAH", "SFO"]
    out = (
        g2q1_carriers_per_airport(ontime)
        .filter(F.col("Origin").isin(focus))
        .orderBy("Origin", "avg_dep_delay", "UniqueCarrier")
    )
    report = out.select(
        composite_key(["Origin", "UniqueCarrier", "avg_dep_delay"]).alias("line")
    )
    path = str(tmp_path / "report")
    write_text_report(out, path, single_file=True)
    import glob
    import re

    [part] = glob.glob(f"{path}/part-*")
    lines = open(part).read().splitlines()
    assert lines == [r["line"] for r in report.collect()]
    pat = re.compile(r"^[A-Z]{3} [A-Z0-9()]{2,5} -?\d+(\.\d+)?$")
    assert lines and all(pat.match(ln) for ln in lines)
    # per airport: ≤10 lines, ascending delays
    per = {}
    for ln in lines:
        o, _, v = ln.split(" ")
        per.setdefault(o, []).append(float(v))
    for o, vs in per.items():
        assert len(vs) <= 10 and vs == sorted(vs), o
