"""Unit tests for the core operator library (SURVEY.md §2.3-2.5)."""

from pyspark.sql import functions as F

from airline_dataset_hadoop_public_spark.operators.aggregates import (
    avg_by_key,
    distinct_union,
    explode_count,
)
from airline_dataset_hadoop_public_spark.operators.argmin import argmin_by
from airline_dataset_hadoop_public_spark.operators.generators import (
    date_series,
    permutation_triplets,
)
from airline_dataset_hadoop_public_spark.operators.topk import (
    global_top_k,
    rank_table,
    top_k_per_group,
)


def test_explode_count_counts_both_columns(spark):
    df = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "A")], ["origin", "dest"]
    )
    out = {r["key"]: r["cnt"] for r in explode_count(df, ["origin", "dest"]).collect()}
    assert out == {"A": 3, "B": 2, "C": 1}


def test_avg_by_key_skips_nulls_and_rounds(spark):
    df = spark.createDataFrame(
        [("x", 1.0), ("x", 2.0), ("x", None), ("y", 0.123456)],
        ["k", "v"],
    )
    out = {r["k"]: r["avg"] for r in avg_by_key(df, ["k"], "v", "avg").collect()}
    assert out == {"x": 1.5, "y": 0.1235}


def test_distinct_union(spark):
    df = spark.createDataFrame([("A", "B"), ("B", "C")], ["a", "b"])
    got = {r["k"] for r in distinct_union(df, ["a", "b"], "k").collect()}
    assert got == {"A", "B", "C"}


def test_global_top_k_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("a", 5), ("b", 5), ("c", 9), ("d", 1)], ["k", "v"]
    )
    rows = global_top_k(df, [F.desc("v"), F.asc("k")], 3).collect()
    assert [(r["k"], r["v"]) for r in rows] == [("c", 9), ("a", 5), ("b", 5)]


def test_top_k_per_group_caps_each_group(spark):
    df = spark.createDataFrame(
        [("g1", i, float(i)) for i in range(5)]
        + [("g2", i, float(-i)) for i in range(3)],
        ["g", "id", "v"],
    )
    out = top_k_per_group(df, ["g"], [F.asc("v"), F.asc("id")], 2).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["id"])
    assert by_g == {"g1": [0, 1], "g2": [2, 1]}


def test_rank_table_dense_from_one(spark):
    df = spark.createDataFrame([("a", 3), ("b", 7), ("c", 5)], ["k", "v"])
    rows = rank_table(df, [F.desc("v"), F.asc("k")]).collect()
    assert {(r["k"], r["rank"]) for r in rows} == {("b", 1), ("c", 2), ("a", 3)}


def test_argmin_deterministic_tie_break(spark):
    df = spark.createDataFrame(
        [("g", 1.0, 10, "x"), ("g", 1.0, 3, "y"), ("g", 2.0, 1, "z")],
        ["g", "v", "id", "tag"],
    )
    rows = argmin_by(df, ["g"], ["v", "id"], ["tag"]).collect()
    assert len(rows) == 1
    assert (rows[0]["v"], rows[0]["id"], rows[0]["tag"]) == (1.0, 3, "y")


def test_permutation_triplets_constraints(spark):
    codes = spark.createDataFrame([("A",), ("B",), ("C",)], ["code"])
    rows = permutation_triplets(codes, "code").collect()
    # stop != origin and stop != dest; origin == dest allowed
    assert all(r["stop"] != r["origin"] and r["stop"] != r["dest"] for r in rows)
    # 3 pairs with origin==dest get 2 stops each; 6 distinct pairs get 1
    assert len(rows) == 3 * 2 + 6 * 1
    assert any(r["origin"] == r["dest"] for r in rows)


def test_date_series_inclusive(spark):
    rows = date_series(spark, "2008-02-27", "2008-03-02").collect()
    assert len(rows) == 5  # 2008 is a leap year → Feb 29 exists
    assert str(rows[0]["date"]) == "2008-02-27"
    assert str(rows[-1]["date"]) == "2008-03-02"


def test_rank_table_distributed_equals_window_rank(spark):
    from airline_dataset_hadoop_public_spark.operators.topk import (
        ordered_prefix_distributed,
        rank_table,
    )
    from pyspark.sql import functions as F

    df = spark.range(0, 5000).select(
        F.col("id"), (F.col("id") * 37 % 1009).alias("v")
    ).repartition(16)
    order = [F.desc("v"), F.asc("id")]
    small = {(r["id"], r["rank"]) for r in rank_table(df, order).collect()}
    big = {
        (r["id"], r["rank"])
        for r in ordered_prefix_distributed(df, order).collect()
    }
    assert small == big
