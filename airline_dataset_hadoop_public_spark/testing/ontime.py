"""Deterministic synthetic BTS-shaped ontime data (FIXTURES.md §B1).

Mirrors the reference's raw input shape (/root/reference/README.md:510)
including its documented dirt: DepTime "hhmm" strings with ~0.5%
hour > 23 (README.md:513), ~1% missing fields per column
(README.md:111-112), negative delays, legacy parenthesized carrier
codes (README.md:183-184), and rare Origin=Dest rows (README.md:309).
Fixed seed → byte-stable across runs; used by the airline-native
query-family tests (golden layout + invariants, SURVEY.md §5.2).
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, Row, SparkSession

from ..sources.ingest import ONTIME_SCHEMA

AIRPORTS = [
    "ORD", "ATL", "DFW", "LAX", "PHX", "STL", "CVG", "DTW", "MSP", "LAS",
    "BOS", "DEN", "IAH", "CLT", "SFO", "EWR", "PHL", "LGA", "PIT", "SLC",
    "SEA", "MCO", "BWI", "DCA", "SAN", "TPA", "MDW", "CMI", "JFK", "MIA",
    "OAK", "SMF", "HOU", "SAT", "MSY", "RDU", "BNA", "AUS", "IND", "MCI",
]
CARRIERS = [
    "AA", "UA", "DL", "WN", "US", "CO", "NW", "TW", "HP", "AS",
    "B6", "FL", "OO", "XE", "YV", "9E", "EV", "HA", "KH", "ML(1)", "PA(1)",
]


def generate_ontime_rows(n: int, seed: int = 42) -> list[Row]:
    rng = random.Random(seed)
    base = dt.date(2007, 1, 1)
    span = (dt.date(2008, 12, 31) - base).days + 1
    rows = []
    for i in range(n):
        # zipf-ish airport skew: quadratic rank bias toward the head
        o = AIRPORTS[min(int(rng.random() ** 2 * len(AIRPORTS)), len(AIRPORTS) - 1)]
        d = AIRPORTS[min(int(rng.random() ** 2 * len(AIRPORTS)), len(AIRPORTS) - 1)]
        # rare same-airport rows stay (reference data has LAX→LAX)
        date = base + dt.timedelta(days=rng.randrange(span))
        hh, mm = rng.randrange(24), rng.randrange(60)
        if rng.random() < 0.005:
            hh += 24  # malformed: hour > 23, repaired downstream (P5)
        dep_time = None if rng.random() < 0.01 else f"{hh:02d}{mm:02d}"
        dep_delay = None if rng.random() < 0.01 else round(rng.gauss(5, 15), 1)
        arr_delay = None if rng.random() < 0.01 else round(rng.gauss(5, 18), 1)
        rows.append(
            Row(
                FlightDate=date,
                UniqueCarrier=CARRIERS[rng.randrange(len(CARRIERS))],
                FlightNum=rng.randrange(1, 10000),
                Origin=o,
                Dest=d,
                DepTime=dep_time,
                DepDelay=dep_delay,
                ArrDelay=arr_delay,
            )
        )
    return rows


def ontime_df(spark: SparkSession) -> DataFrame:
    """The 20,000-row, seed-42 on-time frame the airline tests run on."""
    return spark.createDataFrame(
        generate_ontime_rows(20_000, 42), schema=ONTIME_SCHEMA
    )
