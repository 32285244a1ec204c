"""Focused tests for the r10 optimization-round reshapes.

Each reshape's contract is RESULT EQUALITY with the formulation it
replaced — these tests pin that equality directly (not just via the
registered-query oracles), plus the conf-scoping hygiene of the
streaming state-partition sizing.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _random_vectors(spark, n=60, d=8, seed=7):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(d)]) for i in range(n)
    ]
    # a couple of invalid rows: NULL, zero vector, NaN element
    rows += [(n, None), (n + 1, [0.0] * d), (n + 2, [float("nan")] + [1.0] * (d - 1))]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _join_formulation_pairs(assigned, threshold):
    """The pre-r10 in-cell self-join body of cosine_pairs_within_cells."""
    from airline_dataset_hadoop_public_spark.operators.similarity import (
        dot_product,
    )

    a = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
    )
    b = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
    )
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__cos", dot_product("vec_a", "vec_b"))
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b", "__cos")
    )


def _join_formulation_topk(assigned, k):
    """The pre-r10 join+row_number directed stage of mutual_knn_graph."""
    from pyspark.sql import Window

    from airline_dataset_hadoop_public_spark.operators.similarity import (
        dot_product,
    )

    a = assigned.select(
        "centroid_id", F.col("vec_id").alias("src"), F.col("embedding").alias("__va")
    )
    b = assigned.select(
        "centroid_id", F.col("vec_id").alias("dst"), F.col("embedding").alias("__vb")
    )
    w = Window.partitionBy("src").orderBy(F.desc("__cos"), F.asc("dst"))
    return (
        a.join(b, "centroid_id")
        .filter(F.col("src") != F.col("dst"))
        .withColumn("__cos", dot_product("__va", "__vb"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("src", "dst", "__cos")
    )


def test_cell_pair_kernel_threshold_bitexact_vs_join(spark):
    from airline_dataset_hadoop_public_spark.operators.similarity import (
        _cell_pair_scores,
        assign_to_centroids,
        unit_normalize,
    )

    vecs = _random_vectors(spark)
    cents = vecs.filter(F.col("vec_id") < 4)
    assigned = unit_normalize(assign_to_centroids(vecs, cents)).cache()
    new = {
        (r.id_a, r.id_b): r["__cos"]
        for r in _cell_pair_scores(assigned, threshold=0.1).collect()
    }
    old = {
        (r.id_a, r.id_b): r["__cos"]
        for r in _join_formulation_pairs(assigned, 0.1).collect()
    }
    assert new.keys() == old.keys() and len(new) > 0
    for key, cos in new.items():
        # bit-equality, not approx: the kernel contract is the
        # identical einsum on the identical float64 rows
        assert math.isclose(cos, old[key], rel_tol=0.0, abs_tol=0.0), key
    assigned.unpersist()


def test_cell_pair_kernel_topk_bitexact_vs_window(spark):
    from airline_dataset_hadoop_public_spark.operators.similarity import (
        _cell_pair_scores,
        assign_to_centroids,
        unit_normalize,
    )

    vecs = _random_vectors(spark, n=50, d=6, seed=11)
    cents = vecs.filter(F.col("vec_id") < 3)
    assigned = unit_normalize(assign_to_centroids(vecs, cents)).cache()
    new = {
        (r.src, r.dst): r["__cos"]
        for r in _cell_pair_scores(assigned, topk=4).collect()
    }
    old = {
        (r.src, r.dst): r["__cos"]
        for r in _join_formulation_topk(assigned, 4).collect()
    }
    assert new.keys() == old.keys() and len(new) > 0
    for key, cos in new.items():
        assert math.isclose(cos, old[key], rel_tol=0.0, abs_tol=0.0), key
    assigned.unpersist()


def test_cell_pair_kernel_chunking_matches_unchunked(spark, monkeypatch):
    """A chunk boundary inside one cell must not change the pair set,
    the cosines, or the per-src ranks."""
    import airline_dataset_hadoop_public_spark.operators.similarity as S

    vecs = _random_vectors(spark, n=40, d=4, seed=3)
    cents = vecs.filter(F.col("vec_id") < 1)  # ONE cell: all rows together
    assigned = S.unit_normalize(S.assign_to_centroids(vecs, cents)).cache()
    big = sorted(
        map(tuple, S._cell_pair_scores(assigned, topk=3).collect())
    )
    monkeypatch.setattr(S, "_CELL_PAIR_CHUNK", 64)  # force many blocks
    small = sorted(
        map(tuple, S._cell_pair_scores(assigned, topk=3).collect())
    )
    assert big == small and len(big) > 0
    assigned.unpersist()


def test_scoped_stream_shuffle_partitions(spark, tmp_path):
    from airline_dataset_hadoop_public_spark.streaming import windows as W

    # tiny dir -> 1 partition; huge advisory never exceeds the session
    # default; missing files are skipped
    d = tmp_path / "src"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 1024)
    (d / "_SUCCESS").write_bytes(b"")  # metadata files excluded
    assert W.scoped_stream_shuffle_partitions(spark, str(d)) == 1
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # a dir big enough to exceed the advisory clamps at the default
    monkey_bytes = W._STREAM_ADVISORY_BYTES
    try:
        W._STREAM_ADVISORY_BYTES = 512
        assert W.scoped_stream_shuffle_partitions(spark, str(d)) == min(
            cur, 2
        )
    finally:
        W._STREAM_ADVISORY_BYTES = monkey_bytes


def test_stream_drain_restores_shuffle_partitions(spark, tmp_path):
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table
    from airline_dataset_hadoop_public_spark.streaming.windows import (
        run_file_stream_batch,
        windowed_agg,
    )

    ev = load_table(spark, SF_SMOKE, "events").limit(50)
    src = str(tmp_path / "ev")
    ev.write.parquet(src)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    out = run_file_stream_batch(
        spark,
        src,
        ev.schema,
        lambda s: windowed_agg(s, "1 day"),
    )
    assert out.count() > 0
    assert spark.conf.get(key) == before
