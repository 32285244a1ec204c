"""End-to-end pipeline: what a reference user's full workflow becomes
on this engine — raw monthly CSVs → canonical parquet → all seven
query families → serving layer → point lookups.

Mirrors the reference's gradle-task-per-job flow
(/root/reference/README.md:86,133-139) as ONE lazy-plan pipeline with
two explicit materializations (the canonical store and the serving
write), per SURVEY.md §3.
"""

from __future__ import annotations

import csv

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def canonical(spark, tmp_path_factory):
    """CSV tree → canonical year-partitioned parquet, once."""
    from airline_dataset_hadoop_public_spark.sources.ingest import (
        canonicalize,
        read_canonical,
        read_ontime_csv,
    )
    from airline_dataset_hadoop_public_spark.testing.ontime import generate_ontime_rows

    tmp = tmp_path_factory.mktemp("e2e")
    rows = generate_ontime_rows(12_000, seed=11)
    header = [
        "FlightDate", "UniqueCarrier", "FlightNum", "Origin", "Dest",
        "DepTime", "DepDelay", "ArrDelay",
    ]
    per_file = 3000
    for i in range(0, len(rows), per_file):
        d = tmp / "csv" / f"month_{i // per_file}"
        d.mkdir(parents=True)
        with open(d / "data.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            for r in rows[i : i + per_file]:
                w.writerow([r[c] if r[c] is not None else "" for c in header])
    canonicalize(read_ontime_csv(spark, str(tmp / "csv")), str(tmp / "parquet"))
    return read_canonical(spark, str(tmp / "parquet")).cache()


def test_all_seven_query_families_run(spark, canonical):
    from airline_dataset_hadoop_public_spark.plans import airline as A

    assert canonical.count() == 12_000
    top_airports = A.g1q1_airport_popularity(canonical).collect()
    assert len(top_airports) == 10
    assert A.g1q2_carrier_on_time(canonical).count() == 10
    assert A.g2q1_carriers_per_airport(canonical).count() > 0
    assert A.g2q2_dests_per_airport(canonical).count() > 0
    assert A.g2q3_carriers_per_route(canonical).count() > 0
    ranked = A.g3q1_popularity_ranked(canonical)
    pdf = ranked.toPandas()
    from airline_dataset_hadoop_public_spark.analytics import fit_rank_distribution

    fit = fit_rank_distribution(pdf.rename(columns={"flights": "cnt"}))
    assert fit["best"] is not None  # G3Q1 tail runs on engine output
    legs = A.leg_candidates(canonical)
    reqs = A.requests(spark, A.airports(canonical)).limit(2000)
    assert A.toms_leg(reqs, legs, 1).columns[0] == "origin"


def test_serving_roundtrip_with_partition_pruning(spark, canonical, tmp_path):
    from airline_dataset_hadoop_public_spark.plans import airline as A
    from airline_dataset_hadoop_public_spark.sources.serving import (
        point_read,
        write_serving,
    )

    g2q1 = A.g2q1_carriers_per_airport(canonical)
    path = str(tmp_path / "serving" / "g2q1")
    write_serving(g2q1, path, ["Origin"])
    got = point_read(spark, path, Origin="ORD")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan  # pruned like a Cassandra partition read
    expect = {
        (r["UniqueCarrier"], r["avg_dep_delay"])
        for r in g2q1.filter(F.col("Origin") == "ORD").collect()
    }
    assert {
        (r["UniqueCarrier"], r["avg_dep_delay"]) for r in got.collect()
    } == expect


def test_serving_four_key_request_lookup(spark, canonical, tmp_path):
    """X2's second access path (requestlegsbyrequest,
    /root/reference/README.md:597-615): point lookup by the 4-column
    composite request key over the Tom's-leg serving table."""
    from airline_dataset_hadoop_public_spark.plans import airline as A
    from airline_dataset_hadoop_public_spark.sources.serving import (
        point_read,
        write_serving,
    )

    legs = A.leg_candidates(canonical)
    reqs = A.requests(spark, A.airports(canonical)).filter(
        F.col("origin").isin("ORD", "ATL") & F.col("dest").isin("ORD", "ATL")
    )
    leg1 = A.toms_leg(reqs, legs, 1)
    path = str(tmp_path / "serving" / "toms1")
    # partition only by the leading request columns (origin, stop):
    # date has too-high cardinality for a partition dir per value —
    # residual key equality is an in-file pushed filter
    write_serving(leg1, path, ["origin", "stop"])
    sample = leg1.limit(1).collect()
    if not sample:  # synthetic corpus may lack a matching leg
        return
    s = sample[0]
    got = point_read(
        spark,
        path,
        origin=s["origin"],
        stop=s["stop"],
        dest=s["dest"],
        request_date=s["request_date"],
    ).collect()
    assert len(got) == 1 and got[0]["carrier"] == s["carrier"]


def test_reference_demo_session_golden_layout(spark, canonical, tmp_path):
    """The reference's full demo in ONE session (r5 verdict item 7):
    all seven query families over one ontime corpus, the G2 reports
    rendered through the text sink in the README's demo layout — six
    airports for G2Q1/G2Q2 (CMI BWI MIA LAX IAH SFO,
    /root/reference/README.md:204-239,296-326) and six routes for
    G2Q3 (README.md:333-367; IND→CMH swaps to IND→MCI because CMH is
    not in the synthetic airport list) — plus the serving writes and
    point lookups that close the reference pipeline. Values differ
    (synthetic corpus), so assertions pin the report SHAPE the README
    shows: one line per (key, carrier) as space-joined fields, at
    most ten per key, float metric ascending within each key."""
    from airline_dataset_hadoop_public_spark.plans import airline as A
    from airline_dataset_hadoop_public_spark.sources.serving import (
        create_database,
        point_read,
        write_serving,
        write_text_report,
    )

    demo_airports = ["CMI", "BWI", "MIA", "LAX", "IAH", "SFO"]
    demo_routes = [
        ("CMI", "ORD"), ("IND", "MCI"), ("LAX", "SFO"),
        ("JFK", "LAX"), ("DFW", "IAH"), ("ATL", "PHX"),
    ]

    # --- G1: global top-10s ------------------------------------------------
    g1q1 = A.g1q1_airport_popularity(canonical).collect()
    assert len(g1q1) == 10
    flights = [r["flights"] for r in g1q1]
    assert flights == sorted(flights, reverse=True)
    g1q2 = A.g1q2_carrier_on_time(canonical).collect()
    assert len(g1q2) == 10
    delays = [r["avg_arr_delay"] for r in g1q2]
    assert delays == sorted(delays)

    # --- G2: grouped top-10 reports in the README demo layout ---------------
    def report_lines(df, path):
        write_text_report(df, str(path), single_file=True)
        part = next(p for p in path.iterdir() if p.name.startswith("part-"))
        return part.read_text().splitlines()

    g2q1 = A.g2q1_carriers_per_airport(canonical).filter(
        F.col("Origin").isin(demo_airports)
    )
    lines = report_lines(g2q1, tmp_path / "rep_g2q1")
    by_airport = {}
    for ln in lines:
        airport, carrier, val = ln.split(" ")
        by_airport.setdefault(airport, []).append((carrier, float(val)))
    assert set(by_airport) == set(demo_airports)  # all six blocks present
    for airport, entries in by_airport.items():
        assert 1 <= len(entries) <= 10
        vals = [v for _, v in entries]
        assert vals == sorted(vals)  # ascending within each block

    g2q2 = A.g2q2_dests_per_airport(canonical).filter(
        F.col("Origin").isin(demo_airports)
    )
    lines = report_lines(g2q2, tmp_path / "rep_g2q2")
    seen = {ln.split(" ")[0] for ln in lines}
    assert seen == set(demo_airports)

    g2q3_all = A.g2q3_carriers_per_route(canonical)
    cond = None
    for o, d in demo_routes:
        c = (F.col("Origin") == o) & (F.col("Dest") == d)
        cond = c if cond is None else cond | c
    lines = report_lines(g2q3_all.filter(cond), tmp_path / "rep_g2q3")
    by_route = {}
    for ln in lines:
        o, d, carrier, val = ln.split(" ")
        by_route.setdefault((o, d), []).append(float(val))
    # every demo route flies in the synthetic corpus (seed-pinned)
    assert set(by_route) == set(demo_routes)
    for vals in by_route.values():
        assert 1 <= len(vals) <= 10
        assert vals == sorted(vals)

    # --- G3Q1: rank table + distribution-fit tail ---------------------------
    ranked = A.g3q1_popularity_ranked(canonical).toPandas()
    assert list(ranked["rank"]) == list(range(1, len(ranked) + 1))
    from airline_dataset_hadoop_public_spark.analytics import (
        fit_rank_distribution,
    )

    fit = fit_rank_distribution(ranked.rename(columns={"flights": "cnt"}))
    assert fit["best"] is not None

    # --- G3Q2 + serving: Tom's legs written and point-read ------------------
    create_database(spark, "golden_demo")
    legs = A.leg_candidates(canonical)
    reqs = A.requests(spark, A.airports(canonical)).filter(
        F.col("origin").isin("ORD", "ATL", "DFW")
        & F.col("dest").isin("ORD", "ATL", "DFW")
    )
    leg1 = A.toms_leg(reqs, legs, 1)
    leg2 = A.toms_leg(reqs, legs, 2)
    p1 = str(tmp_path / "serving" / "golden_toms1")
    p2 = str(tmp_path / "serving" / "golden_toms2")
    write_serving(leg1, p1, ["origin", "stop"])
    write_serving(leg2, p2, ["stop", "dest"])
    s = leg1.limit(1).collect()
    assert s, "seed-pinned corpus must yield at least one leg-1 answer"
    s = s[0]
    got = point_read(
        spark, p1, origin=s["origin"], stop=s["stop"], dest=s["dest"],
        request_date=s["request_date"],
    ).collect()
    assert len(got) == 1 and got[0]["carrier"] == s["carrier"]
    assert (  # leg-2 table serves a lookup that binds only its outer key
        point_read(spark, p2, stop=s["stop"]).count()
        == leg2.filter(F.col("stop") == s["stop"]).count()
    )
