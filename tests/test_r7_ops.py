"""r7 wave tests: streamed (bounded-memory) sequential folds.

Collecting a key's ENTIRE series into one array row makes one
pathological key at 100 TB one task's OOM (Arrow's maxRecordsPerBatch
caps rows, not array cells). The streamed fold instead walks the
sorted row stream inside mapInPandas, carrying the accumulator across
Arrow batches — peak memory one batch regardless of key length.

Pins:
- clamp / ewma / holt are BIT-EQUAL (== on floats) to a plain-Python
  replay of each recurrence on multi-key data with ties, under a
  7-row Arrow batch cap;
- the carried state survives Arrow batch boundaries (tiny batch cap,
  key runs straddling batches, several keys inside one batch);
- NULL keys fold as ONE group, as SQL GROUP BY groups them;
- a single key with 1e6 events folds correctly under a 10k-row batch
  cap (the verdict's stated done-bar) and matches a local numpy walk.
"""

import numpy as np
import pytest

from airline_dataset_hadoop_public_spark.operators.timeseries import (
    clamped_running_balance,
    ewma_per_key,
    holt_per_key,
)


class _arrow_batch_cap:
    """Temporarily cap spark.sql.execution.arrow.maxRecordsPerBatch."""

    def __init__(self, spark, n):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
        )
        self.spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(self.n)
        )

    def __exit__(self, *exc):
        self.spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", self.old
        )


def _mixed_series(spark, n_keys=13, max_len=41, seed=7):
    """``(u, t, x)`` rows and their frame: keys of varying lengths
    (1..max_len) with tied (ts, value) rows sprinkled in, so batch
    boundaries land mid-key and the sort comparator's tie handling is
    exercised."""
    rng = np.random.RandomState(seed)
    rows = []
    for u in range(n_keys):
        n = int(rng.randint(1, max_len))
        for i in range(n):
            t = int(rng.randint(0, n))  # duplicate ts values on purpose
            v = float(np.round(rng.uniform(-30, 30), 2))
            rows.append((u, t, v))
            if rng.rand() < 0.1:
                rows.append((u, t, v))  # exact (ts, value) tie
    return rows, spark.createDataFrame(rows, "u long, t long, x double")


def _replay(rows, fold):
    """Plain-Python reference for the per-key folds: group ``(u, t, x)``
    rows by key (every NULL key in one group, as SQL GROUP BY does),
    sort each group by (t, x) and run ``fold`` over its x values.
    ``fold(xs)`` returns one tuple of outputs per element; each output
    row is ``(u, step, t, x, *outputs)``."""
    groups = {}
    for u, t, x in rows:
        groups.setdefault(u, []).append((t, x))
    out = []
    for u, series in groups.items():
        series.sort()
        ys = fold([x for _, x in series])
        for i, ((t, x), y) in enumerate(zip(series, ys)):
            out.append((u, i, t, x, *y))
    return out


def _ewma(alpha):
    def fold(xs):
        acc, ys = 0.0, []
        for i, v in enumerate(xs):
            acc = v if i == 0 else alpha * v + (1.0 - alpha) * acc
            ys.append((acc,))
        return ys

    return fold


def _holt(xs):
    lv, b = xs[0], 0.0
    ys = [(lv, b)]
    for v in xs[1:]:
        l_new = 0.5 * v + 0.5 * (lv + b)
        b = 0.5 * (l_new - lv) + 0.5 * b
        lv = l_new
        ys.append((lv, b))
    return ys


def _clamp(lo, hi):
    def fold(xs):
        acc, ys = 0.0, []
        for v in xs:
            acc = min(hi, max(lo, acc + v))
            ys.append((acc,))
        return ys

    return fold


def _cmp_bit_equal(got_rows, want, cols):
    """``got_rows`` (Spark rows) projected on ``cols`` must equal the
    ``want`` tuples as multisets; NULL keys sort first."""
    keyf = lambda t: tuple((v is not None, v) for v in t)  # noqa: E731
    a = sorted((tuple(r[c] for c in cols) for r in got_rows), key=keyf)
    b = sorted(want, key=keyf)
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra == rb, (ra, rb)  # == on floats: BIT equality demanded


def test_clamp_streamed_bit_equal_to_packed_small_batches(spark):
    rows, df = _mixed_series(spark)
    want = _replay(rows, _clamp(0.0, 50.0))
    with _arrow_batch_cap(spark, 7):
        streamed = clamped_running_balance(
            df, "u", "t", "x", hi=50.0, out="b"
        ).collect()
    _cmp_bit_equal(streamed, want, ["u", "step", "t", "x", "b"])


def test_ewma_streamed_bit_equal_to_packed_small_batches(spark):
    rows, df = _mixed_series(spark, seed=11)
    # ewma output has no step column; (u, t, x) can tie exactly — the
    # tied rows' ewma values coincide too (same prefix), so comparing
    # the full tuples as multisets is sound
    want = [(u, t, x, y) for u, _, t, x, y in
            _replay(rows, _ewma(0.3))]
    with _arrow_batch_cap(spark, 7):
        streamed = ewma_per_key(df, "u", "t", "x", alpha=0.3).collect()
    _cmp_bit_equal(streamed, want, ["u", "t", "x", "ewma"])


def test_holt_streamed_bit_equal_to_packed_small_batches(spark):
    rows, df = _mixed_series(spark, seed=23)
    want = [(u, t, x, lv, b) for u, _, t, x, lv, b in
            _replay(rows, _holt)]
    with _arrow_batch_cap(spark, 7):
        streamed = holt_per_key(df, "u", "t", "x").collect()
    _cmp_bit_equal(streamed, want, ["u", "t", "x", "level", "trend"])


def test_clamp_streamed_hot_key_1e6_events_bounded_batches(spark):
    """The verdict's done-bar: one key, 1e6 events, Arrow batches
    capped at 10k rows — a collect_list layout would ship one
    1e6-element array cell through a single batch; the streamed fold
    never holds more than 10k rows. Expected values from a local numpy
    replay of the identical walk."""
    n = 1_000_000
    df = (
        spark.range(n)
        .selectExpr(
            "CAST(0 AS LONG) AS u",
            "id AS t",  # strictly increasing: total order, no ties
            # deterministic pseudo-deltas in [-6, 6], many clamps
            "CAST(pmod(id * 2654435761, 1250) - 625 AS DOUBLE) / 100.0 AS x",
        )
    )
    with _arrow_batch_cap(spark, 10_000):
        out = clamped_running_balance(
            df, "u", "t", "x", hi=50.0, out="b"
        )
        got = (
            out.groupBy("u")
            .agg(
                {"b": "sum", "step": "max", "t": "count"},
            )
            .collect()[0]
        )
        # spot-check exact positions too (head, a mid batch boundary
        # straddle, tail)
        probe = {
            r["step"]: r["b"]
            for r in out.filter(
                "step IN (0, 9999, 10000, 499999, 999999)"
            ).collect()
        }

    ids = np.arange(n, dtype=np.int64)
    x = ((ids * 2654435761) % 1250 - 625).astype(np.float64) / 100.0
    acc = 0.0
    total = 0.0
    want = {}
    for i in range(n):
        acc = acc + x[i]
        if acc < 0.0:
            acc = 0.0
        elif acc > 50.0:
            acc = 50.0
        total += acc
        if i in (0, 9999, 10000, 499999, 999999):
            want[i] = acc

    assert got["count(t)"] == n
    assert got["max(step)"] == n - 1
    for i, v in want.items():
        assert probe[i] == v, i
    # checksum: both sides sum in the same ascending-step order only
    # within partitions; Spark's global sum reorders partials, so
    # compare with a tolerance scaled to the magnitude
    assert abs(got["sum(b)"] - total) < 1e-6 * max(1.0, abs(total))


def test_streamed_fold_key_runs_across_batch_boundaries(spark):
    """Several keys per batch AND key runs straddling batches: the
    carried (key, state, step) must reset exactly at key changes."""
    rows = [(u, t, 1.0) for u in range(6) for t in range(11)]
    df = spark.createDataFrame(rows, "u long, t long, x double")
    with _arrow_batch_cap(spark, 4):
        out = clamped_running_balance(
            df, "u", "t", "x", hi=7.0, out="b"
        ).collect()
    assert len(out) == 66
    for r in out:
        assert r["b"] == min(7.0, float(r["step"] + 1))
        assert r["step"] == r["t"]


def test_registered_balance_fixture_uses_streamed_plan(spark):
    """The registered query rides the bounded-memory path: its plan
    shows the mapInPandas stage and no collect_list packing."""
    from airline_dataset_hadoop_public_spark.plans.registry import queries

    df = queries()["events_clamped_running_balance"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "collect_list" not in plan


# ---------------------------------------------------------------------------
# Adamic–Adar hub cap (r6 verdict item 8)
# ---------------------------------------------------------------------------


def test_adamic_adar_hub_cap_bounds_wedges_and_drops_only_hub_mass(spark):
    """Star hub (deg 8) + a small clique: with hub_cap=4 the hub
    center expands NO wedges (per-center wedge count bounded by
    C(cap,2)), and surviving pair scores equal the exact scores minus
    exactly the dropped hub's 1/ln(deg) contribution."""
    import math

    from airline_dataset_hadoop_public_spark.operators.graph import (
        adamic_adar_scores,
    )

    edges = set()

    def add(a, b):
        edges.add((a, b))
        edges.add((b, a))

    hub = 100
    for leaf in range(1, 9):  # hub degree 8 > cap
        add(hub, leaf)
    for a in (1, 2, 3):  # clique on {1,2,3}: centers of degree <= 4
        for b in (1, 2, 3):
            if a < b:
                add(a, b)
    adj = spark.createDataFrame(sorted(edges), "src long, dst long")

    exact = {
        (r["u"], r["v"]): (r["aa"], r["cn"])
        for r in adamic_adar_scores(adj, hub_cap=None).collect()
    }
    capped = {
        (r["u"], r["v"]): (r["aa"], r["cn"])
        for r in adamic_adar_scores(adj, hub_cap=4).collect()
    }

    w_hub = 1.0 / math.log(8.0)
    for pair, (aa, cn) in exact.items():
        u, v = pair
        hub_wedge = u < 9 and v < 9  # only leaf pairs ride the hub
        if pair in capped:
            aa_c, cn_c = capped[pair]
            assert cn_c == cn - (1 if hub_wedge else 0)
            want = aa - (w_hub if hub_wedge else 0.0)
            assert abs(aa_c - want) < 1e-12
        else:
            # pair disappears only if ALL its wedges rode the hub
            assert hub_wedge and cn == 1
    # per-center bound: no surviving center can emit > C(cap,2) wedges,
    # so total wedges <= n_centers * C(4,2); here the only multi-wedge
    # centers are the clique nodes (deg 4 each)
    total_cn = sum(cn for _, cn in capped.values())
    n_centers = 3  # clique nodes; hub dropped, leaves have deg 1
    assert total_cn <= n_centers * (4 * 3 // 2)


def test_triple_itemsets_both_plan_branches_agree(spark, monkeypatch):
    """The r7b cost-based branch (candidate join vs basket-triangle
    counting) must be a PHYSICAL choice only: forcing each branch via
    the cap must return identical rows. sf0.001's statistic is 1.2M,
    so cap=0 forces the triangle path and the default cap the
    candidate path."""
    from airline_dataset_hadoop_public_spark.plans import fixtures_graph as g

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(g, "_TRIPLE_CAND_CAP", 10**15)
    sparse = [
        tuple(r)
        for r in g.parts_copurchase_triple_itemsets(spark, sf).collect()
    ]
    monkeypatch.setattr(g, "_TRIPLE_CAND_CAP", 0)
    dense = [
        tuple(r)
        for r in g.parts_copurchase_triple_itemsets(spark, sf).collect()
    ]
    assert sparse == dense
    assert len(sparse) == 20


def test_streamed_fold_null_keys_form_one_sql_group(spark):
    """SQL GROUP BY collapses every NULL key into ONE group; the
    streamed fold's run detection must be null-safe or each null-key
    row restarts the accumulator (caught by the NULL-injection axis:
    events.user_id goes NULL on every 11th row). The replay groups
    NULL keys as SQL does; streamed must be bit-equal to it on a frame
    whose null-key rows interleave with live keys and straddle tiny
    Arrow batches."""
    rows = []
    for i in range(60):
        u = None if i % 3 == 0 else (i % 2 + 1)
        rows.append((u, i, float((i * 7) % 23)))
    df = spark.createDataFrame(rows, "u long, t long, x double")

    with _arrow_batch_cap(spark, 7):
        streamed = ewma_per_key(df, "u", "t", "x", alpha=0.5).collect()
    assert sum(1 for r in streamed if r["u"] is None) == 20
    want = [(u, t, x, y) for u, _, t, x, y in _replay(rows, _ewma(0.5))]
    _cmp_bit_equal(streamed, want, ["u", "t", "x", "ewma"])

    with _arrow_batch_cap(spark, 7):
        streamed_b = clamped_running_balance(
            df, "u", "t", "x", hi=30.0, out="b"
        ).collect()
    _cmp_bit_equal(
        streamed_b, _replay(rows, _clamp(0.0, 30.0)),
        ["u", "step", "t", "x", "b"],
    )
