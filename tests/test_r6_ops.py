"""Round-6 pins: the four ADVICE.md (r5) findings stay fixed.

1. Skyline SFS ordering — equal-ROUNDED-sum dominators must still
   precede the points they dominate (medium finding: the float64
   preference sum ties past 2^53, and the old stable argsort could
   emit the dominated point first, leaking it into the skyline).
2. ntile_distributed's q = floor(N/k) must use integer `div`, not
   double `/` (low finding: near-2^53 double division rounds across
   the floor boundary and shifts every bucket).
3. CUSUM zero-variance guard must compare in a 128-bit-class domain
   (low finding: BIGINT s*s wraps silently under Spark's non-ANSI
   multiply once Σc > ~3.04e9, while DuckDB raises — engine/oracle
   divergence exactly at claimed scale).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1. skyline tie-break
# ---------------------------------------------------------------------------


def test_skyline_equal_rounded_sum_dominator_still_wins_kernel():
    from airline_dataset_hadoop_public_spark.operators.skyline import _sfs_kernel

    # ADVICE.md's exact construction: dims (5e15, 4.5e15+1) dominates
    # (5e15, 4.5e15); both per-dim values are inside the exact-double
    # domain, but the two sums round to the same float64.
    dominator = (5e15, 4.5e15 + 1)
    dominated = (5e15, 4.5e15)
    assert (
        np.float64(dominator[0]) + np.float64(dominator[1])
        == np.float64(dominated[0]) + np.float64(dominated[1])
    ), "fixture must exercise the rounded-sum tie"
    # dominated listed FIRST so a stable sum-only sort would keep it
    pdf = pd.DataFrame(
        {
            "x": [dominated[0], dominator[0]],
            "y": [dominated[1], dominator[1]],
            "id": ["dominated", "dominator"],
        }
    )
    kernel = _sfs_kernel(["x", "y"], [1.0, 1.0])
    out = pd.concat(list(kernel(iter([pdf]))), ignore_index=True)
    assert list(out["id"]) == ["dominator"]


def test_skyline_equal_rounded_sum_dominator_still_wins_operator(spark):
    from airline_dataset_hadoop_public_spark.operators.skyline import skyline

    rows = [
        (float(5e15), float(4.5e15), "dominated"),
        (float(5e15), float(4.5e15 + 1), "dominator"),
        (1.0, 1.0, "small"),
    ]
    df = spark.createDataFrame(rows, "x double, y double, id string")
    got = sorted(r["id"] for r in skyline(df, maximize=["x", "y"]).collect())
    assert got == ["dominator"]


def test_skyline_lexsort_tiebreak_random_ties_match_naive():
    """Property sweep on a tie-rich integer grid: kernel == O(n^2) naive."""
    from airline_dataset_hadoop_public_spark.operators.skyline import _sfs_kernel

    rng = np.random.RandomState(7)
    for trial in range(20):
        # tiny integer domain → many equal-sum groups
        pts = rng.randint(0, 4, size=(30, 3)).astype(float)
        pdf = pd.DataFrame(pts, columns=["a", "b", "c"])
        pdf["id"] = range(len(pdf))
        kernel = _sfs_kernel(["a", "b", "c"], [1.0, 1.0, 1.0])
        got = sorted(
            pd.concat(list(kernel(iter([pdf]))), ignore_index=True)["id"]
        )
        naive = []
        for i in range(len(pts)):
            dominated = any(
                (pts[j] >= pts[i]).all() and (pts[j] > pts[i]).any()
                for j in range(len(pts))
            )
            if not dominated:
                naive.append(i)
        assert got == naive, f"trial {trial}"


# ---------------------------------------------------------------------------
# 2. ntile q via integer div
# ---------------------------------------------------------------------------


def test_ntile_q_integer_div_near_2p53(spark):
    # n = 2^53 + 3 rounds to 2^53 + 4 as a double (ties-to-even), so the
    # old (n / 2).cast(long) path returns floor+1; `div` stays exact.
    n = 2**53 + 3
    df = spark.createDataFrame([(n,)], "__n long")
    row = df.select(
        F.expr("__n div 2").alias("exact"),
        (F.col("__n") / 2).cast("long").alias("via_double"),
    ).first()
    assert row["exact"] == n // 2
    assert row["via_double"] == n // 2 + 1, (
        "double division no longer misrounds here — if Spark changed "
        "semantics, the ntile_distributed comment should be revisited"
    )


# ---------------------------------------------------------------------------
# 3. CUSUM variance guard in a wide domain
# ---------------------------------------------------------------------------


def test_variance_guard_wide_domain_no_wraparound(spark):
    # Two hourly cells of 0 and 4e9 events: real variance, but BIGINT
    # s*s = 1.6e19 wraps negative under non-ANSI multiply, so the old
    # guard could misfire. ss*n = 3.2e19 also exceeds int64.
    big = 4_000_000_000
    series = spark.createDataFrame(
        [("k", 0), ("k", big), ("z", big), ("z", big)], "k string, c long"
    )
    stats = series.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("ss"),
    )
    kept = sorted(
        r["k"]
        for r in stats.filter(
            F.col("ss") * F.col("n")
            > F.col("s").cast("decimal(38,0)") * F.col("s")
        ).collect()
    )
    # k has variance → kept; z is constant (4e9, 4e9) → dropped, even
    # though every BIGINT product in sight would have wrapped
    assert kept == ["k"]

    # and the hazard is real: the narrow-domain product either raises
    # ARITHMETIC_OVERFLOW (ANSI mode — Spark 4 default, a crash at
    # scale) or wraps negative (non-ANSI — a silent guard misfire)
    try:
        wrapped = (
            stats.filter(F.col("k") == "z")
            .select((F.col("s") * F.col("s")).alias("ss_bigint"))
            .first()["ss_bigint"]
        )
    except Exception as exc:  # noqa: BLE001 — Py4J surfaces SparkArithmeticException
        assert "ARITHMETIC_OVERFLOW" in str(exc)
    else:
        assert wrapped < 0, "expected BIGINT wrap under non-ANSI multiply"


# ---------------------------------------------------------------------------
# 4. LSH hot-bucket cap bounds candidate volume (r5 verdict item 3)
# ---------------------------------------------------------------------------


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """A pathological cluster (12 distinct docs sharing a 60-token
    core) piles most of its band buckets to size ~12; with the cap at
    3 every surviving bucket must hold <= 3 rows, so candidate volume
    is bounded by bands * C(cap, 2) instead of C(12, 2) per bucket."""
    from airline_dataset_hadoop_public_spark.operators import dedup as D

    core = " ".join(f"tok{i}" for i in range(60))
    rows = [(i, f"{core} uniq{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D._shingled(df, "doc_id", "text", 1).filter(F.size("__sh") > 0)
    grp = D._collapse_identical(sh, "doc_id", fingerprint=True)
    reps = D._hashed_reps(grp, "doc_id")
    bands, cap = 32, 3
    banded = D._banded(reps, "doc_id", 128, bands).cache()
    try:
        uncapped = D._lsh_candidates(
            banded, banded, "doc_id", 0.9, 10**9, symmetric=True
        ).count()
        capped = D._lsh_candidates(
            banded, banded, "doc_id", 0.9, cap, symmetric=True
        ).count()
        # the fixture really is a hot cluster: near-all-pairs uncapped
        assert uncapped >= 50  # C(12,2) = 66 when every pair collides
        # direct invariant: after the guard no bucket exceeds the cap
        hot = (
            banded.groupBy("band", "bkey")
            .count()
            .filter(F.col("count") > cap)
            .select("band", "bkey")
        )
        surviving_max = (
            banded.join(F.broadcast(hot), ["band", "bkey"], "left_anti")
            .groupBy("band", "bkey")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert surviving_max is None or surviving_max <= cap
        # and the bound the guard exists to provide
        assert capped <= bands * cap * (cap - 1) // 2
        assert capped < uncapped
    finally:
        banded.unpersist()


# ---------------------------------------------------------------------------
# 5. r6 wave operators: clamped balance, Adamic-Adar, Apriori triples,
#    lead-lag xcorr
# ---------------------------------------------------------------------------


def test_clamped_running_balance_matches_naive(spark):
    from airline_dataset_hadoop_public_spark.operators.timeseries import (
        clamped_running_balance,
    )

    rng = np.random.RandomState(3)
    rows = []
    for u in range(5):
        for i in range(40):
            rows.append((u, i, float(np.round(rng.uniform(-30, 30), 2))))
    df = spark.createDataFrame(rows, "u long, t long, d double")
    got = {
        (r["u"], r["step"]): r["b"]
        for r in clamped_running_balance(
            df, "u", "t", "d", hi=50.0, out="b"
        ).collect()
    }
    for u in range(5):
        seq = sorted((t, d) for uu, t, d in rows if uu == u)
        acc = 0.0
        for i, (_, d) in enumerate(seq):
            acc = min(50.0, max(0.0, acc + d))
            assert got[(u, i)] == acc, (u, i)


def test_clamped_balance_tied_steps_well_defined(spark):
    """Two identical (ts, delta) steps: the balance SEQUENCE is
    invariant to their order, and step addressing is the contract."""
    from airline_dataset_hadoop_public_spark.operators.timeseries import (
        clamped_running_balance,
    )

    df = spark.createDataFrame(
        [(1, 10, 40.0), (1, 10, 40.0), (1, 20, -5.0)], "u long, t long, d double"
    )
    out = sorted(
        (r["step"], r["b"])
        for r in clamped_running_balance(
            df, "u", "t", "d", hi=50.0, out="b"
        ).collect()
    )
    assert out == [(0, 40.0), (1, 50.0), (2, 45.0)]


def test_adamic_adar_small_graph_matches_hand_computation(spark):
    import math

    from airline_dataset_hadoop_public_spark.plans.fixtures_graph import (
        parts_copurchase_adamic_adar,  # noqa: F401 — registration smoke
    )

    # build the score pipeline over a hand-checkable adjacency by
    # monkey-free reconstruction: orders {1:(a,b),(a,c)} etc. Use a
    # tiny parquet-free frame and the same wedge algebra inline.
    # graph: edges a-z, b-z, a-y, b-y, z-y  (z,y are shared neighbors
    # of the non-adjacent pair a,b; deg z = 3, deg y = 3)
    edges = [(1, 3), (2, 3), (1, 4), (2, 4), (3, 4)]
    adj = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    ).distinct()
    deg = adj.groupBy(F.col("src").alias("z")).agg(F.count(F.lit(1)).alias("d"))
    contrib = deg.filter(F.col("d") > 1).select(
        "z", (F.lit(1.0) / F.log(F.col("d"))).alias("w")
    )
    e1 = adj.select(F.col("src").alias("z"), F.col("dst").alias("u"))
    e2 = adj.select(F.col("src").alias("z"), F.col("dst").alias("v"))
    score = (
        e1.join(e2, "z")
        .filter(F.col("u") < F.col("v"))
        .join(contrib, "z")
        .groupBy("u", "v")
        .agg(F.sum("w").alias("aa"))
    )
    nonadj = score.join(
        adj, (score.u == adj.src) & (score.v == adj.dst), "left_anti"
    )
    got = {(r["u"], r["v"]): r["aa"] for r in nonadj.collect()}
    assert set(got) == {(1, 2)}  # only a-b is non-adjacent with common nbrs
    assert abs(got[(1, 2)] - 2 / math.log(3)) < 1e-12


def test_xcorr_identical_series_peak_at_zero_lag(spark):
    """A type pair built from the SAME hourly pattern must correlate
    1.0 at lag 0 through the registered fixture's algebra."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    for h in range(48):
        n = 1 + (h % 5)
        for i in range(n):
            rows.append((h * 100 + i, base + dt.timedelta(hours=h), "aa"))
            rows.append((h * 100 + i + 50, base + dt.timedelta(hours=h), "bb"))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    import airline_dataset_hadoop_public_spark.plans.fixtures_timeseries as T

    # run the fixture body against a temp view-free frame by patching
    # load_table is overkill; instead exercise the same moment algebra
    counts = df.groupBy(
        F.col("event_type").alias("k"), F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    a = counts.filter(F.col("k") == "aa").select(
        F.unix_timestamp("h").alias("e"), F.col("c").alias("xc")
    )
    b = counts.filter(F.col("k") == "bb").select(
        F.unix_timestamp("h").alias("e"), F.col("c").alias("yc")
    )
    j = a.join(b, "e")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = j.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec("xc")).alias("sx"),
        F.sum(dec("yc")).alias("sy"),
        F.sum(dec("xc") * F.col("yc")).alias("sxy"),
        F.sum(dec("xc") * F.col("xc")).alias("sxx"),
        F.sum(dec("yc") * F.col("yc")).alias("syy"),
    ).first()
    n, sx, sy, sxy, sxx, syy = (int(m[i]) for i in range(6))
    corr = (n * sxy - sx * sy) / (
        ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
    )
    assert abs(corr - 1.0) < 1e-12
