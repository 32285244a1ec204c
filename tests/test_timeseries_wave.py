"""Tests for the time-series / relational-completeness wave:
resample+ffill, regression aggregates, unpivot, inverted index,
hourly entropy."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import Row
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_resample_ffill_fills_gaps_and_forward_fills(spark):
    from airline_dataset_hadoop_public_spark.operators.timeseries import (
        resample_ffill,
    )

    df = spark.createDataFrame(
        [
            Row(k="a", ts=_ts(0, 1), v=10.0),
            Row(k="a", ts=_ts(0, 14), v=20.0),
            # gap: 00:15 and 00:30 buckets empty for "a"
            Row(k="a", ts=_ts(0, 50), v=40.0),
            Row(k="b", ts=_ts(0, 20), v=5.0),
        ]
    )
    out = resample_ffill(df, "k", "v")
    rows = {
        (r["key"], r["bucket"].minute): (r["n_obs"], r["avg_value_ffill"])
        for r in out.collect()
    }
    # full grid: 2 keys x 4 buckets (00:00 .. 00:45)
    assert len(rows) == 8
    assert rows[("a", 0)] == (2, 15.0)
    assert rows[("a", 15)] == (0, 15.0)  # forward-filled through the gap
    assert rows[("a", 30)] == (0, 15.0)
    assert rows[("a", 45)] == (1, 40.0)
    # "b" has no observation before 00:15 -> leading nulls
    assert rows[("b", 0)] == (0, None)
    assert rows[("b", 15)] == (1, 5.0)
    assert rows[("b", 30)] == (0, 5.0)


def test_regr_trend_recovers_exact_line(spark):
    # value = 3*x + 7 exactly -> slope 3, intercept 7, r = 1
    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            event_type="t",
            ts=base + dt.timedelta(days=d),
            value=3.0 * d + 7.0,
        )
        for d in range(5)
    ]
    df = spark.createDataFrame(rows)
    x = (F.col("ts").cast("double") - F.lit(1704067200.0)) / 86400.0
    got = (
        df.select("event_type", "value", x.alias("x"))
        .groupBy("event_type")
        .agg(
            F.round(F.regr_slope("value", "x"), 6).alias("slope"),
            F.round(F.regr_intercept("value", "x"), 6).alias("icpt"),
            F.round(F.corr("value", "x"), 6).alias("r"),
        )
        .collect()[0]
    )
    assert (got["slope"], got["icpt"], got["r"]) == (3.0, 7.0, 1.0)


def test_unpivot_metrics_totals(spark):
    import __spark_entry__ as e

    out = e.queries()["lineitem_unpivot_metrics"](spark, SF_SMOKE)
    rows = out.collect()
    # 3 metrics per return flag, no nulls
    flags = {r["l_returnflag"] for r in rows}
    assert len(rows) == 3 * len(flags)
    by_metric = {}
    for r in rows:
        by_metric.setdefault(r["metric"], 0.0)
        by_metric[r["metric"]] += r["total"]
    assert set(by_metric) == {"quantity", "extendedprice", "discount"}
    # discount is a rate in [0,1] -> its total must be far below the others
    assert by_metric["discount"] < by_metric["quantity"] < by_metric["extendedprice"]


def test_inverted_index_postings_sorted_and_capped(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=3, text="alpha beta"),
            Row(doc_id=1, text="alpha gamma alpha"),
            Row(doc_id=2, text="beta! ALPHA?"),
        ]
    )
    tok = (
        df.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    got = {
        r["term"]: (r["doc_freq"], r["posting_sample"])
        for r in tok.groupBy("term")
        .agg(
            F.count("*").alias("doc_freq"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.sort_array(F.collect_set("doc_id")), 1, 100),
                    lambda x: x.cast("string"),
                ),
            ).alias("posting_sample"),
        )
        .collect()
    }
    assert got["alpha"] == (3, "1,2,3")  # dedup within doc, sorted ids
    assert got["beta"] == (2, "2,3")
    assert got["gamma"] == (1, "1")


def test_hourly_entropy_uniform_and_point_mass(spark):
    rows = [
        # "u": one event in each of 4 distinct hours -> ln(4)
        *[Row(event_type="u", ts=_ts(h), value=1.0) for h in range(4)],
        # "p": all events in one hour -> entropy 0
        *[Row(event_type="p", ts=_ts(9, m), value=1.0) for m in range(3)],
    ]
    df = spark.createDataFrame(rows)
    from pyspark.sql import Window

    c = df.groupBy("event_type", F.hour("ts").alias("h")).agg(
        F.count("*").alias("n")
    )
    p = F.col("n") / F.sum("n").over(Window.partitionBy("event_type"))
    got = {
        r["event_type"]: (r["ent"], r["nh"])
        for r in c.withColumn("p", p)
        .groupBy("event_type")
        .agg(
            F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("ent"),
            F.count("*").alias("nh"),
        )
        .collect()
    }
    assert got["p"] == (0.0, 1)
    assert got["u"] == (round(math.log(4), 6), 4)


def test_ewma_recurrence_exact(spark):
    """applyInPandas EWMA must equal the hand-rolled recurrence."""
    import datetime as dt

    from airline_dataset_hadoop_public_spark.operators.timeseries import (
        ewma_per_key,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, i), float(v))
        for i, v in enumerate([10.0, 20.0, 10.0, 40.0])
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        r["ts"].second: r["ewma"]
        for r in ewma_per_key(df, "user_id", "ts", "value", alpha=0.5).collect()
    }
    acc = None
    for i, v in enumerate([10.0, 20.0, 10.0, 40.0]):
        acc = v if acc is None else 0.5 * v + 0.5 * acc
        assert abs(got[i] - acc) < 1e-12
