"""Round-4 additions: asymmetric containment near-dup, KMV sketch set
algebra, and hash-sampled join-size estimation."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row


def _trigrams(text: str) -> set[str]:
    w = text.lower().strip().split()
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def _containment(a: str, b: str) -> float:
    sa, sb = _trigrams(a), _trigrams(b)
    return len(sa & sb) / len(sa) if sa else 0.0


def test_containment_is_asymmetric(spark):
    """A short doc embedded in a long one: A→B fires, B→A does not."""
    from airline_dataset_hadoop_public_spark.operators.dedup import (
        containment_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long_ = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lamda mu nu xi omicron pi rho sigma tau upsilon"
    )
    other = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=short), Row(doc_id=2, text=long_), Row(doc_id=3, text=other)]
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.9).collect()
    }
    assert _containment(short, long_) == 1.0  # planted premise
    assert _containment(long_, short) < 0.9
    assert got == {(1, 2): 1.0}


def test_containment_matches_bruteforce(spark):
    """Prefix-filter candidates lose nothing: output == all-pairs truth."""
    from airline_dataset_hadoop_public_spark.operators.dedup import (
        containment_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    words = base.split()
    docs = {1: base, 2: base, 3: " ".join(words[:8])}
    docs[4] = " ".join(words[:8][::-1])  # same words, different trigrams
    docs[5] = base + " and then some extra trailing words appear here"
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs.items()]
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.6).collect()
    }
    want = {
        (ia, ib): round(_containment(ta, tb), 4)
        for ia, ta in docs.items()
        for ib, tb in docs.items()
        if ia != ib and _trigrams(ta) and _containment(ta, tb) >= 0.6
    }
    assert got == want


def test_kmv_overlap_exact_below_capacity(spark):
    """Union smaller than k → every estimate collapses to the exact value."""
    from airline_dataset_hadoop_public_spark.operators.sketches import (
        kmv_set_overlap_per_key_pair,
    )

    rows = [Row(k="x", v=f"u{i}") for i in range(20)] + [
        Row(k="y", v=f"u{i}") for i in range(10, 40)
    ]
    [r] = kmv_set_overlap_per_key_pair(
        spark.createDataFrame(rows), "k", "v", k=64
    ).collect()
    # |x|=20, |y|=30, inter=10, union=40
    assert (r["key_a"], r["key_b"]) == ("x", "y")
    assert r["jaccard_est"] == r["jaccard_exact"] == 0.25
    assert r["union_est"] == 40.0
    assert r["inter_est"] == 10.0


def test_kmv_overlap_estimates_above_capacity(spark):
    """Sketched regime: estimates land near truth, never exceed bounds."""
    from airline_dataset_hadoop_public_spark.operators.sketches import (
        kmv_set_overlap_per_key_pair,
    )

    rows = [Row(k="x", v=f"u{i}") for i in range(500)] + [
        Row(k="y", v=f"u{i}") for i in range(250, 750)
    ]
    [r] = kmv_set_overlap_per_key_pair(
        spark.createDataFrame(rows), "k", "v", k=64
    ).collect()
    assert r["jaccard_exact"] == round(250 / 750, 4)
    assert 0.0 <= r["jaccard_est"] <= 1.0
    assert abs(r["jaccard_est"] - r["jaccard_exact"]) < 0.25  # k=64 noise bound
    assert 400 < r["union_est"] < 1200  # true 750


def test_join_size_estimate_math(spark, tmp_path):
    """est = 64 × Σ_sampled c², exact = Σ c², sample = md5 slice."""
    import pyspark.sql.functions as F
    from airline_dataset_hadoop_public_spark.plans.fixtures_scale_patterns import (
        _JOINEST_CUT,
        lineitem_join_size_estimate,
    )

    counts = {k: (k % 7) + 1 for k in range(1, 300)}
    # load_table normalizes lineitem's nano-ts l_shipdate — include it
    rows = [
        Row(l_partkey=k, l_shipdate=1700000000_000000000)
        for k, c in counts.items()
        for _ in range(c)
    ]
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "lineitem.parquet"))
    [r] = lineitem_join_size_estimate(spark, str(tmp_path)).collect()

    def hv(k: int) -> int:
        return int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)

    sampled = [k for k in counts if hv(k) < _JOINEST_CUT]
    assert r["exact_pairs"] == sum(c * c for c in counts.values())
    assert r["n_sample_keys"] == len(sampled)
    assert r["est_pairs"] == 64 * sum(counts[k] ** 2 for k in sampled)


def test_observe_metrics_match_direct_aggregates(spark, tmp_path):
    """In-flight observed counters equal a direct aggregation pass."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row
    from airline_dataset_hadoop_public_spark.plans.fixtures_analytics import (
        dq_observe_metrics,
    )

    rows = [
        Row(l_returnflag=f, l_quantity=float(q), l_extendedprice=float(p),
            l_shipdate=None if q == 3 else 1700000000_000000000)
        for f, q, p in [("A", 1, 10.0), ("A", 3, 20.5), ("N", 2, 7.25)]
    ]
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {r["metric"]: r["value"] for r in dq_observe_metrics(spark, str(tmp_path)).collect()}
    assert got == {
        "max_price": 20.5,
        "n_groups": 2.0,
        "n_rows": 3.0,
        "null_shipdate": 1.0,
        "sum_qty": 6.0,
    }


def test_containment_float_ceil_boundary(spark):
    """t·|A| products that round one ulp above the exact integer must
    not shorten the prefix: 0.07*100 == 7.000000000000001 in IEEE754,
    and an unguarded ceil() would demand overlap 8 where the exact
    bound is 7 — dropping true pairs with C(A,B) exactly at threshold."""
    from airline_dataset_hadoop_public_spark.operators.dedup import (
        containment_pairs,
    )

    assert 0.07 * 100 > 7  # the premise: the product rounds up
    # doc A: 102 words → 100 trigrams; doc B shares exactly 7 of them
    # (a 9-word run = 7 shared trigrams), rest disjoint
    shared = [f"s{i}" for i in range(9)]
    a_words = shared + [f"a{i}" for i in range(93)]
    b_words = shared + [f"b{i}" for i in range(93)]
    df = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(a_words)), Row(doc_id=2, text=" ".join(b_words))]
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.07).collect()
    }
    assert got[(1, 2)] == 0.07 and got[(2, 1)] == 0.07


def test_decayed_activity_math(spark, tmp_path):
    """Decay weights: an event exactly one halflife old counts 0.5."""
    import datetime as dt
    from airline_dataset_hadoop_public_spark.plans.fixtures_behavior import (
        events_decayed_activity,
    )

    t0 = dt.datetime(2024, 1, 2, 0, 0, 0)
    rows = [
        Row(event_id=1, ts=t0, user_id=1, event_type="click", value=1.0, props="{}"),
        Row(event_id=2, ts=t0 - dt.timedelta(hours=24), user_id=1,
            event_type="click", value=1.0, props="{}"),
        Row(event_id=3, ts=t0 - dt.timedelta(hours=48), user_id=2,
            event_type="click", value=1.0, props="{}"),
        Row(event_id=4, ts=None, user_id=3, event_type="click", value=1.0, props="{}"),
    ]
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: (r["n_events"], r["decayed_score"])
        for r in events_decayed_activity(spark, str(tmp_path)).collect()
    }
    assert got == {1: (2, 1.5), 2: (1, 0.25)}  # null-ts row excluded


def _empty_tables(tmp_path):
    import pyarrow.parquet as pq

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        sch = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(sch.empty_table(), str(tmp_path / f"{t}.parquet"))
    return str(tmp_path)


def test_zero_row_fixture_hardening(spark, tmp_path):
    """The empty-input classes the zero-row sweep caught: write-then-
    read paths with no files to infer from, the 1/n pagerank guard,
    the observation that never fires, the WAP gate on a legitimately
    empty source, and Spark's missing ANSI global grouping-set row."""
    sf = _empty_tables(tmp_path)
    import __spark_entry__ as e

    qs = e.queries()
    for name, want_rows in [
        ("serving_point_read", 0),
        ("ingest_csv_roundtrip", 0),
        ("ingest_orc_roundtrip", 0),
        ("storage_footer_stats_agg", 1),
        ("parts_copurchase_pagerank", 0),
        ("warehouse_write_audit_publish", 0),
        ("ingest_json_corrupt_records", 0),
        ("lineitem_rollup_revenue", 1),
        ("cube_revenue_by_flag_status", 1),
        ("grouping_sets_revenue", 1),
        ("dq_observe_metrics", 5),
    ]:
        assert qs[name](spark, sf).count() == want_rows, name
