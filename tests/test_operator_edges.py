"""Regression tests for the r2 operator-edge fixes: NULL payloads in
as-of joins, NULL attrs in SCD-2 runs, outer-variant semantics of the
salted and point-in-interval joins, and zero-vector normalization."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _t(m):
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)


def test_asof_join_null_payload_not_mixed(spark):
    """Payload fields must come from ONE right row — per-column
    ffill once stitched (x from ts=1, y from ts=2) together."""
    from airline_dataset_hadoop_public_spark.operators.range_join import asof_join

    left = spark.createDataFrame([(10, 1, _t(3))], ["id", "k", "ts"])
    right = spark.createDataFrame(
        [(1, _t(1), 1.0, None), (1, _t(2), None, 2.0)],
        "k long, rts timestamp, x double, y double",
    )
    row = asof_join(left, right, ["k"], "ts", "rts", ["x", "y"], "id").collect()[0]
    assert (row["x"], row["y"]) == (None, 2.0)  # ts=2's payload, verbatim


def test_asof_join_all_null_first_payload_still_matches(spark):
    from airline_dataset_hadoop_public_spark.operators.range_join import asof_join

    left = spark.createDataFrame([(10, 1, _t(3))], ["id", "k", "ts"])
    right = spark.createDataFrame(
        [(1, _t(1), None, 7.0)], "k long, rts timestamp, x double, y double"
    )
    rows = asof_join(left, right, ["k"], "ts", "rts", ["x", "y"], "id").collect()
    assert len(rows) == 1 and rows[0]["y"] == 7.0


def test_scd2_null_attr_runs(spark):
    """History [A, NULL, A] is three runs with distinct versions; a
    NULL attr neither merges into the previous run nor duplicates a
    version."""
    from airline_dataset_hadoop_public_spark.operators.relational import (
        scd2_intervals,
    )

    df = spark.createDataFrame(
        [(1, "A", _t(0), 0), (1, None, _t(1), 1), (1, "A", _t(2), 2)],
        "ent long, attr string, ts timestamp, uid long",
    )
    rows = sorted(
        scd2_intervals(df, "ent", "attr", "ts", "uid").collect(),
        key=lambda r: r["version"],
    )
    assert [(r["version"], r["attr"]) for r in rows] == [
        (1, "A"),
        (2, None),
        (3, "A"),
    ]
    assert [r["is_current"] for r in rows] == [False, False, True]


def test_salted_join_rejects_right_and_full(spark):
    from airline_dataset_hadoop_public_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], ["k", "v"])
    b = spark.createDataFrame([(1, "y")], ["k", "w"])
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(a, b, ["k"], how="full")
    # left family still works and matches the plain join
    got = salted_join(a, b, ["k"], how="left").collect()
    assert [tuple(r) for r in got] == [(1, "x", "y")]


def test_point_in_interval_left_keeps_unmatched(spark):
    from airline_dataset_hadoop_public_spark.operators.range_join import (
        point_in_interval_join,
    )

    points = spark.createDataFrame([(1, _t(0)), (2, _t(500))], ["pid", "ts"])
    ivals = spark.createDataFrame(
        [(100, _t(-5), _t(5))], ["iid", "start", "end"]
    )
    got = {
        r["pid"]: r["iid"]
        for r in point_in_interval_join(
            points, ivals, "start", "end", how="left"
        ).collect()
    }
    assert got == {1: 100, 2: None}  # unmatched point survives with NULLs


def test_unit_normalize_invalid_vectors_dropped(spark):
    # Vector-validity contract (FIXTURES.md section K): zero-norm,
    # NaN-element, Inf-element, and NULL vectors are excluded at the
    # unit_normalize entry point — none of them may rank in a top-k
    # (a NaN cosine would rank FIRST under Spark's NaN-largest sort,
    # a zero vector's cosine is 0/0).
    from airline_dataset_hadoop_public_spark.operators.similarity import (
        brute_force_topk,
        unit_normalize,
    )

    df = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [float("nan"), 1.0]),
            (4, [float("inf"), 1.0]),
            (5, None),
        ],
        "vec_id long, embedding array<double>",
    )
    kept = {r["vec_id"] for r in unit_normalize(df).collect()}
    assert kept == {1, 2}
    top = brute_force_topk(
        df, df.filter(F.col("vec_id") == 1), k=5
    ).collect()
    assert [r["neighbor_id"] for r in top] == [2]
