"""r8 wave: the two-pass range-partitioned rank/prefix-sum helper
(`operators.topk.ordered_prefix_distributed`) that replaced the r7
judge's three single-partition-window findings, pinned against the
plain-window semantics it must reproduce bit-for-bit."""

from __future__ import annotations

import random
from decimal import Decimal

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from airline_dataset_hadoop_public_spark.operators.topk import (
    ordered_prefix_distributed,
)


def _noisy(spark, n=500, groups=None, seed=8):
    """Rows with heavy ties and a total-order tie-break key, spread
    over many input partitions so the range exchange actually routes."""
    rng = random.Random(seed)
    rows = [
        Row(
            g=(groups[i % len(groups)] if groups else "all"),
            v=rng.randint(0, 20),
            k=i,
            amt=rng.randint(-50, 1000),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows).repartition(13)


def test_global_rank_and_running_sum_match_plain_window(spark):
    df = _noisy(spark)
    got = (
        ordered_prefix_distributed(
            df, order=["v", "k"], rank="r", running_sums={"amt": "run"}
        )
        .select("k", "r", "run")
        .collect()
    )
    w = Window.orderBy("v", "k")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = (
        df.select(
            "k",
            F.row_number().over(w).cast("long").alias("r"),
            F.sum("amt").over(wr).alias("run"),
        ).collect()
    )
    assert sorted(got) == sorted(want)


def test_grouped_desc_rank_matches_plain_window(spark):
    df = _noisy(spark, groups=["a", "b", "c", "d", "e"])
    got = (
        ordered_prefix_distributed(
            df,
            order=[F.desc("v"), F.asc("k")],
            partition_by=["g"],
            rank="r",
            running_sums={"amt": "run"},
        )
        .select("g", "k", "r", "run")
        .collect()
    )
    w = Window.partitionBy("g").orderBy(F.desc("v"), F.asc("k"))
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = (
        df.select(
            "g",
            "k",
            F.row_number().over(w).cast("long").alias("r"),
            F.sum("amt").over(wr).alias("run"),
        ).collect()
    )
    assert sorted(got) == sorted(want)


def test_decimal_running_sum_and_nulls(spark):
    # decimal offsets cross the driver as Decimal, and NULL values must
    # contribute nothing to the running sum (SUM semantics) on both the
    # window side and the offset-accumulation side
    rows = [Row(k=i, d=(None if i % 7 == 0 else Decimal(i * 3))) for i in range(80)]
    df = spark.createDataFrame(
        rows, "k long, d decimal(38,0)"
    ).repartition(9)
    got = (
        ordered_prefix_distributed(
            df, order=["k"], rank=None, running_sums={"d": "run"}
        )
        .select("k", "run")
        .collect()
    )
    wr = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.select("k", F.sum("d").over(wr).alias("run")).collect()
    assert sorted(got, key=lambda r: r["k"]) == sorted(
        want, key=lambda r: r["k"]
    )


def test_empty_input(spark):
    df = spark.createDataFrame([], "g string, v long, k long")
    out = ordered_prefix_distributed(
        df, order=["v", "k"], partition_by=["g"], rank="r",
        running_sums={"v": "run"},
    )
    assert out.count() == 0
    assert {"r", "run"} <= set(out.columns)


def test_rank_spans_partition_boundaries(spark):
    # the whole point of the helper: with enough rows per shuffle
    # partition, ranks must compose ACROSS partitions via the offsets,
    # not restart at 1 — verify the global rank set is exactly 1..N
    df = _noisy(spark, n=300)
    ranks = [
        r["r"]
        for r in ordered_prefix_distributed(df, order=["v", "k"], rank="r")
        .select("r")
        .collect()
    ]
    assert sorted(ranks) == list(range(1, 301))


# ---------------------------------------------------------------------------
# embeddings_cluster_curation_report (r8 capability addition)
# ---------------------------------------------------------------------------

SF = "/root/testdata/sf0.001"


def test_cluster_curation_report_invariants(spark):
    """Structural contract: cluster_id = min member id never exceeds
    other ids, density in (0, 1], edges <= C(n_members, 2), and every
    cluster has >= 2 members (components come from edges)."""
    import __spark_entry__ as e

    rows = e.queries()["embeddings_cluster_curation_report"](
        spark, SF
    ).collect()
    assert rows, "toy scale should still produce clusters"
    for r in rows:
        n, m = r["n_members"], r["n_edges"]
        assert n >= 2 and m >= 1
        assert m <= n * (n - 1) // 2
        assert 0.0 < r["density"] <= 1.0
        assert -1.0 <= r["avg_cosine"] <= r["max_cosine"] <= 1.0
    ids = [r["cluster_id"] for r in rows]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)


def test_cluster_curation_members_sum_to_graph_nodes(spark):
    """Σ n_members over clusters == node count of the mutual-kNN
    graph: the report partitions the graph exactly (no node lost or
    double-counted by the CC labeling)."""
    import __spark_entry__ as e

    from pyspark.sql import functions as F2

    qs = e.queries()
    rep = qs["embeddings_cluster_curation_report"](spark, SF)
    graph = qs["embeddings_mutual_knn_graph"](spark, SF)
    n_nodes = (
        graph.select(F2.col("id_a").alias("n"))
        .unionByName(graph.select(F2.col("id_b").alias("n")))
        .distinct()
        .count()
    )
    total = rep.agg(F2.sum("n_members")).collect()[0][0]
    assert total == n_nodes


def test_null_group_key_is_its_own_group(spark):
    """Window.partitionBy treats NULL as a group; the offset join is
    null-safe so NULL-group rows must survive with correct ranks and
    group totals."""
    many = [(None if i % 3 == 0 else "a", i % 4, i) for i in range(60)]
    # small groups, one of them the NULL key
    few = [
        ("a", 1, 0), ("a", 2, 1), ("a", 3, 2), ("a", 4, 3),
        ("b", 1, 4), ("b", 2, 5),
        (None, 1, 6), (None, 2, 7),
    ]
    for rows, parts in ((many, 7), (few, 3)):
        df = spark.createDataFrame(
            rows, "g string, v long, k long"
        ).repartition(parts)
        got = (
            ordered_prefix_distributed(
                df, order=["v", "k"], partition_by=["g"], rank="r",
                group_total="n",
            )
            .select("g", "k", "r", "n")
            .collect()
        )
        assert len(got) == len(rows)
        w = Window.partitionBy("g").orderBy("v", "k")
        want = df.select(
            "g", "k", F.row_number().over(w).cast("long").alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
        ).collect()
        key = lambda r: (r["g"] or "", r["k"])
        assert sorted(got, key=key) == sorted(want, key=key)


def test_running_sum_null_until_first_nonnull_across_partitions(spark):
    """SQL window SUM stays NULL until the group's first non-NULL
    input — including when the all-NULL prefix spans several range
    partitions (the offset must not coerce it to 0)."""
    rows = [Row(k=i, d=(None if i < 37 else i * 2)) for i in range(80)]
    df = spark.createDataFrame(rows, "k long, d long").repartition(11)
    got = (
        ordered_prefix_distributed(
            df, order=["k"], rank=None, running_sums={"d": "run"}
        )
        .select("k", "run")
        .collect()
    )
    wr = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.select("k", F.sum("d").over(wr).alias("run")).collect()
    assert sorted(got, key=lambda r: r["k"]) == sorted(
        want, key=lambda r: r["k"]
    )
    # and the NULL prefix really is NULL, not 0
    by_k = {r["k"]: r["run"] for r in got}
    assert by_k[0] is None and by_k[36] is None and by_k[37] == 74


def test_grouped_ntile_matches_window_ntile_across_k(spark):
    """ntile_distributed's per-group closed-form bucket must equal
    Spark's NTILE for every k, including k > group size and the
    uneven-remainder cases (first r buckets get q+1 rows)."""
    from airline_dataset_hadoop_public_spark.operators.topk import (
        ntile_distributed,
    )

    rows = [
        Row(g=["a", "b", "c"][i % 3], v=(i * 7) % 13, k=i) for i in range(97)
    ]
    df = spark.createDataFrame(rows).repartition(9)
    for k in (1, 2, 3, 4, 7, 10, 200):
        got = {
            (r["g"], r["k"]): r["nt"]
            for r in ntile_distributed(
                df, order=["v", "k"], k=k, out="nt", partition_by=["g"]
            ).collect()
        }
        w = Window.partitionBy("g").orderBy("v", "k")
        want = {
            (r["g"], r["k"]): r["nt"]
            for r in df.select(
                "g", "k", F.ntile(k).over(w).cast("long").alias("nt")
            ).collect()
        }
        assert got == want, f"k={k}"


def test_offset_table_cap_fails_loudly_on_fact_scale_groups(spark, monkeypatch):
    """A fact-scaled partition_by must raise, not silently pull the
    key domain through the driver (cap monkeypatched down so the test
    stays tiny)."""
    from airline_dataset_hadoop_public_spark.operators import topk as T

    monkeypatch.setattr(T, "_OFFSET_ROWS_CAP", 10)
    df = spark.createDataFrame(
        [Row(g=i, v=i) for i in range(200)]
    ).repartition(5)
    with pytest.raises(ValueError, match="fact-scaled"):
        T.ordered_prefix_distributed(
            df, order=["v"], partition_by=["g"], rank="r"
        ).collect()
