"""Tests for the round-1 widening: BPE token counts, rolling hash,
frame sampling, session windows, stateful streaming, power-law fit."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F


def test_bpe_token_counts_known_string(spark):
    from airline_dataset_hadoop_public_spark.operators.text import bpe_token_counts

    df = spark.createDataFrame(
        [Row(doc_id=1, text="Hello, world 42!"), Row(doc_id=2, text="")]
    )
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_token_counts(df).collect()}
    # Hello | , | world | 42 | !  → 5 pre-tokens
    assert got == {1: 5, 2: 0}


def test_rolling_hash_matches_python(spark):
    from airline_dataset_hadoop_public_spark.operators.text import rolling_hash

    text = "The  Quick\tBrown fox"
    norm = "the quick brown fox"
    expect = 0
    for ch in norm:
        expect = (expect * 31 + ord(ch)) % 1_000_000_007
    df = spark.createDataFrame([Row(doc_id=7, text=text)])
    [row] = rolling_hash(df).collect()
    assert (row["doc_id"], row["rhash"]) == (7, expect)


def test_sample_frames_shape_and_values(spark):
    from airline_dataset_hadoop_public_spark.operators.multimodal import (
        sample_frames,
        with_binary_payload,
    )

    long = "a" * 200  # 8 frames at stride 16 (bounded by max_frames)
    short = "xyz"  # 1 frame
    df = with_binary_payload(
        spark.createDataFrame([Row(doc_id=1, text=long), Row(doc_id=2, text=short)]),
    )
    rows = sample_frames(df).collect()
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append((r["frame_idx"], r["byte_val"]))
    assert len(by_id[1]) == 8 and all(v == ord("a") for _, v in by_id[1])
    assert by_id[2] == [(0, ord("x"))]


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [Row(user_id=u, ts=ts, value=float(v)) for u, ts, v in rows]
    )


def test_session_window_gap_semantics(spark):
    from airline_dataset_hadoop_public_spark.streaming.windows import session_window_agg

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        (1, t0, 1.0),
        (1, t0 + 2 * h, 2.0),  # gap 2h < 6h → same session
        (1, t0 + 9 * h, 3.0),  # gap 7h ≥ 6h → new session
        (2, t0 + 6 * h, 4.0),  # lone session for user 2
    ]
    got = {
        (r["user_id"], r["session_start"]): (r["n"], r["sum_value"])
        for r in session_window_agg(_mk_events(spark, rows)).collect()
    }
    assert got == {
        (1, "2024-01-01 00:00:00"): (2, 3.0),
        (1, "2024-01-01 09:00:00"): (1, 3.0),
        (2, "2024-01-01 06:00:00"): (1, 4.0),
    }


def test_stateful_running_count_applyInPandasWithState(spark, tmp_path):
    """Custom stateful streaming operator: per-key running event count
    via applyInPandasWithState (the §2.10 extension's escape hatch for
    semantics window aggs can't express)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = str(tmp_path / "src")
    events = _mk_events(
        spark,
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 0), 1.0),
            (1, dt.datetime(2024, 1, 1, 1, 0, 0), 1.0),
            (2, dt.datetime(2024, 1, 1, 2, 0, 0), 1.0),
        ],
    )
    events.write.mode("overwrite").parquet(src)

    def running_count(key, pdfs, state: GroupState):
        (uid,) = key
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [uid], "n_events": [n]})

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            running_count,
            outputStructType="user_id bigint, n_events bigint",
            stateStructType="n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_counts")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["user_id"]: r["n_events"]
        for r in spark.sql(
            "SELECT user_id, MAX(n_events) AS n_events FROM running_counts GROUP BY user_id"
        ).collect()
    }
    assert got == {1: 2, 2: 1}


def test_fit_rank_distribution_shape():
    import numpy as np

    from airline_dataset_hadoop_public_spark.analytics import fit_rank_distribution

    rng = range(1, 101)
    pdf = pd.DataFrame({"rank": list(rng), "cnt": [1000.0 / r for r in rng]})
    out = fit_rank_distribution(pdf)
    assert set(out) == {"zipf", "poisson", "lognormal", "pareto", "best"}
    assert out["best"] in ("zipf", "pareto")  # 1/r data is zipf-shaped
    assert out["zipf"]["sse"] >= 0.0 and np.isfinite(out["zipf"]["sse"])
    # exact recovery on perfectly zipfian data: a ≈ 1
    assert abs(out["zipf"]["params"][0] - 1.0) < 1e-6


def test_connected_components_chain_and_cliques(spark):
    from airline_dataset_hadoop_public_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(10)], "node long")
    # chain 0-1-2-3 (worst case: diameter propagation), clique {5,6,7},
    # isolated 4, 8, 9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6), (6, 7), (5, 7)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9}


def test_kmeans_fit_separates_planted_clusters(spark):
    import numpy as np

    from airline_dataset_hadoop_public_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_fit,
    )

    rng = np.random.RandomState(3)
    rows = []
    for i in range(60):
        base = np.zeros(8)
        base[0 if i % 2 == 0 else 4] = 1.0  # two orthogonal clusters
        v = base + rng.normal(0, 0.05, 8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=2, iters=4)
    assert cents.count() == 2
    assigned = assign_to_centroids(
        df, cents.select(F.col("centroid_id").alias("vec_id"),
                         F.col("centroid").alias("embedding"))
    )
    got = {r["vec_id"]: r["centroid_id"] for r in assigned.collect()}
    even = {got[i] for i in range(0, 60, 2)}
    odd = {got[i] for i in range(1, 60, 2)}
    assert len(even) == 1 and len(odd) == 1 and even != odd


def test_langid_char_ngram_detects_obvious_language(spark):
    from airline_dataset_hadoop_public_spark.operators.text import langid_char_ngram

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick fox is in the barn and a dog"),
            Row(doc_id=2, text="el perro y la casa de los vecinos en madrid"),
            Row(doc_id=3, text="der hund und die katze von dem haus"),
        ]
    )
    got = {r["doc_id"]: r["pred_lang"] for r in langid_char_ngram(df).collect()}
    assert got == {1: "en", 2: "es", 3: "de"}


def test_point_in_interval_join_boundaries(spark):
    from airline_dataset_hadoop_public_spark.operators.range_join import (
        point_in_interval_join,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    pts = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(hours=47, minutes=59)),
         (3, t0 + dt.timedelta(hours=48)), (4, t0 + dt.timedelta(hours=48, seconds=1)),
         (5, t0 - dt.timedelta(seconds=1))],
        "pid long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(t0, t0 + dt.timedelta(hours=48))], "w_start timestamp, w_end timestamp"
    )
    # intervals crossing many buckets, inclusive bounds on both ends
    got = sorted(
        r["pid"]
        for r in point_in_interval_join(
            pts, iv, "w_start", "w_end", bucket_seconds=3600
        ).collect()
    )
    assert got == [1, 2, 3]


def test_asof_join_semantics(spark):
    from airline_dataset_hadoop_public_spark.operators.range_join import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m, 0)
    left = spark.createDataFrame(
        [(1, 7, t(0)), (2, 7, t(5)), (3, 7, t(10)), (4, 8, t(5))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(7, t(5), 50.0), (7, t(9), 90.0)],
        "user_id long, p_ts timestamp, p_value double",
    )
    got = {
        r["event_id"]: r["p_value"]
        for r in asof_join(
            left, right, ["user_id"], "ts", "p_ts", ["p_value", "p_ts"], "event_id"
        ).collect()
    }
    # id1: before any purchase → dropped; id2: equal-ts match; id3:
    # latest preceding (t9); id4: other user, no purchases → dropped
    assert got == {2: 50.0, 3: 90.0}


def test_g3q1_fit_comparison_golden(spark):
    """G3Q1 Phase-2 parity (reference README.md:405-427): fit all four
    candidate distributions (zipf / poisson / lognormal / pareto) to
    the popularity-rank table and compare — the reference's
    fit-comparison TABLE, not its matplotlib plot. Golden numbers are
    pinned from the deterministic sf0.001 fixture: the synthetic
    popularity column is zipf-flavored, so `best` is zipf here (the
    reference's BTS corpus concluded poisson — the comparison
    MACHINERY, shared, is what this pins)."""
    import numpy as np

    from airline_dataset_hadoop_public_spark.analytics import fit_rank_distribution
    from airline_dataset_hadoop_public_spark.plans.fixtures_parity import (
        x1_popularity_rank,
    )

    from conftest import SF_SMOKE

    out = fit_rank_distribution(x1_popularity_rank(spark, SF_SMOKE).toPandas())
    assert out["best"] == "zipf"
    a, c = out["zipf"]["params"]
    assert abs(a - 0.5957927702) < 1e-6  # golden exponent
    assert abs(c - 0.0373161855) < 1e-8
    assert out["zipf"]["sse"] < out["poisson"]["sse"]
    assert np.isfinite(out["poisson"]["sse"])  # poisson fits, just worse
    # complete the README fit-table mirror: golden poisson row too
    # (the reference's BTS winner — here it loses to zipf, badly)
    lam, pc = out["poisson"]["params"]
    assert abs(lam - 87.5822645560) / 87.5822645560 < 1e-6
    assert abs(pc - 32347874.5794302486) / 32347874.5794302486 < 1e-6
    # lognormal/pareto hit their degeneracy guards on this corpus
    # (non-concave log-log parabola / non-positive tail exponent) and
    # report inf SSE rather than a bogus curve
    assert out["lognormal"]["params"] is None
    assert out["pareto"]["params"] is None


def test_semantic_dedup_flags_min_id_survives(spark):
    """Identical vectors in one cell: only the smallest id is kept;
    an isolated vector is never dropped."""
    from airline_dataset_hadoop_public_spark.operators.similarity import (
        semantic_dedup_flags,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),   # dup of 1 -> dropped
        (3, [0.99, 0.01]), # near 1 -> dropped
        (4, [0.0, 1.0]),   # own cell, isolated -> kept
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = vecs.filter(F.col("vec_id").isin(1, 4))
    got = {
        r["vec_id"]: r["dropped"]
        for r in semantic_dedup_flags(vecs, cents, threshold=0.9).collect()
    }
    assert got == {1: False, 2: True, 3: True, 4: False}


def test_token_budget_select_is_prefix_of_quality_order(spark):
    """The selected set must be exactly the maximal budget-fitting
    prefix of the (quality desc, md5 tie, doc_id) order — the contract
    the bucket-decomposed plan must preserve. Recomputed independently
    in Python from the plan's own output columns on the sf0.001
    fixture."""
    import hashlib

    from conftest import SF_SMOKE

    from airline_dataset_hadoop_public_spark.plans import fixtures_training_prep as T

    res = T.corpus_token_budget_select(spark, SF_SMOKE).collect()
    ordered = sorted(
        res,
        key=lambda r: (
            -r["q_bp"],
            hashlib.md5(str(r["doc_id"]).encode()).hexdigest(),
            r["doc_id"],
        ),
    )
    run, budget = 0, T._BUDGET_TOKENS
    for r in ordered:
        run += r["n_tokens"]
        assert r["selected"] == (run <= budget), r
    # the fixture budget bites partway through: both outcomes present
    assert any(r["selected"] for r in res) and not all(r["selected"] for r in res)


def test_connected_components_relays_through_undeclared_endpoints(spark):
    """An edge endpoint absent from `nodes` must still relay labels
    (1-99, 99-5 connects 1 and 5) and must NOT leak into the output."""
    from airline_dataset_hadoop_public_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(1,), (5,)], "node long")
    edges = spark.createDataFrame([(1, 99), (99, 5)], "id_a long, id_b long")
    for gate in (1_000_000, 0):  # union-find path, then the loop path
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                nodes, edges, local_solve_max_edges=gate
            ).collect()
        }
        assert got == {1: 1, 5: 1}


def test_ngram_span_dedup_short_docs_produce_no_windows(spark):
    """Docs with fewer tokens than one window must yield zero window
    rows, not crash: Spark's sequence(1, 0) is the DESCENDING [1, 0]
    (unlike DuckDB's empty generate_series) and its 0 element would
    abort slice(). Regression for the r3 review finding."""
    from airline_dataset_hadoop_public_spark.plans.fixtures_resolution import (
        _span_report,
    )

    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, "a b c d e f g h i j k l")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_windows"] for r in _span_report(df).collect()}
    assert 1 not in got  # short doc: no windows, absent from the report
    assert got[2] == 12 - 8 + 1


def test_connected_components_null_endpoints_do_not_relay(spark):
    """NULL join keys match nothing in the loop path, so a NULL
    endpoint must not bridge components in the union-find path either."""
    from airline_dataset_hadoop_public_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(1,), (5,)], "node long")
    edges = spark.createDataFrame(
        [(1, None), (None, 5)], "id_a long, id_b long"
    )
    for gate in (1_000_000, 0):
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                nodes, edges, local_solve_max_edges=gate
            ).collect()
        }
        assert got == {1: 1, 5: 5}


def test_connected_components_wide_relay_id_does_not_wrap(spark):
    """int nodes + long edges: an out-of-range relay id must widen,
    not wrap onto a declared id (a downcast of 2^32+5 to int would
    fabricate node 5 and merge the two components)."""
    from airline_dataset_hadoop_public_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(1,), (5,)], "node int")
    edges = spark.createDataFrame(
        [(1, (1 << 32) + 5)], "id_a long, id_b long"
    )
    for gate in (1_000_000, 0):
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                nodes, edges, local_solve_max_edges=gate
            ).collect()
        }
        assert got == {1: 1, 5: 5}


def test_connected_components_local_path_keeps_huge_ids_exact(spark):
    """ids above 2^53 (raw 64-bit hash keys) must survive the Arrow
    round-trip exactly — a float64 detour would round them together."""
    from airline_dataset_hadoop_public_spark.operators.dedup import (
        connected_components,
    )

    a, b = (1 << 62) + 1, (1 << 62) + 2  # adjacent in float64
    c = (1 << 62) + 4097
    nodes = spark.createDataFrame([(a,), (b,), (c,)], "node long")
    edges = spark.createDataFrame([(b, c)], "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {a: a, b: b, c: b}


def test_bloom_semi_join_mismatched_key_types(spark):
    """Build side int, probe side long: xxhash64 is type-sensitive, so
    without the probe-type alignment every true member would be
    bloom-dropped (a false negative — the forbidden error class)."""
    from airline_dataset_hadoop_public_spark.operators.sketches import (
        bloom_semi_join,
    )

    build = spark.createDataFrame([(2,), (4,)], "k int")
    probe = spark.createDataFrame([(i,) for i in range(6)], "k long")
    got = sorted(
        r["k"] for r in bloom_semi_join(probe, "k", build, "k").collect()
    )
    assert got == [2, 4]


def test_triangle_counts_rejects_out_of_range_ids(spark):
    """A raw-hash or negative id would collide packed orientation keys
    and silently drop triangles — the operator must raise instead."""
    import pytest as _pytest

    from airline_dataset_hadoop_public_spark.operators.graph import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [(-1, 2), (2, 3), (3, -1)], "src long, dst long"
    )
    with _pytest.raises(Exception, match="triangle_counts requires"):
        triangle_counts(edges).collect()
