"""r5 additions: interval-overlap join and paragraph/block keep-first
dedup."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from airline_dataset_hadoop_public_spark.operators.dedup import (
    block_dedup_keep_first,
)
from airline_dataset_hadoop_public_spark.operators.range_join import (
    interval_overlap_join,
)


def _t(h, m=0, s=0):
    return dt.datetime(2024, 3, 1, h, m, s)


@pytest.fixture()
def intervals(spark):
    left = spark.createDataFrame(
        [
            Row(lid=1, ls=_t(1), le=_t(3)),
            Row(lid=2, ls=_t(4), le=_t(5)),
            # spans many buckets: pair with any right interval must
            # still be emitted exactly once
            Row(lid=3, ls=_t(0), le=_t(23)),
            Row(lid=4, ls=None, le=_t(9)),  # NULL endpoint: never matches
        ],
        "lid int, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [
            Row(rid=10, rs=_t(2), re=_t(2, 30)),   # overlaps 1 and 3
            Row(rid=11, rs=_t(3), re=_t(4)),       # touches 1 and 2 and 3
            Row(rid=12, rs=_t(6), re=_t(7)),       # overlaps 3 only
            Row(rid=13, rs=_t(22), re=None),       # NULL endpoint
        ],
        "rid int, rs timestamp, re timestamp",
    )
    return left, right


def _naive(left, right):
    """Ground truth: plain theta join on the overlap predicate."""
    return {
        (l["lid"], r["rid"])
        for l in left.collect()
        for r in right.collect()
        if None not in (l["ls"], l["le"], r["rs"], r["re"])
        and l["ls"] <= r["re"]
        and r["rs"] <= l["le"]
    }


@pytest.mark.parametrize("bucket", [900, 3600, 86_400])
def test_interval_overlap_matches_naive_any_bucket(spark, intervals, bucket):
    """The bucketed layout is an OPTIMIZATION: results must equal the
    naive theta join at every bucket size, each pair exactly once."""
    left, right = intervals
    got = [
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_seconds=bucket
        ).collect()
    ]
    assert len(got) == len(set(got)), "pair emitted more than once"
    assert set(got) == _naive(left, right)


def test_interval_overlap_closed_endpoints(spark):
    """Touching intervals (l_end == r_start) DO overlap: the contract
    is closed-interval on both sides."""
    l = spark.createDataFrame(
        [Row(lid=1, ls=_t(1), le=_t(2))], "lid int, ls timestamp, le timestamp"
    )
    r = spark.createDataFrame(
        [Row(rid=2, rs=_t(2), re=_t(3))], "rid int, rs timestamp, re timestamp"
    )
    assert (
        interval_overlap_join(l, r, "ls", "le", "rs", "re").count() == 1
    )


def test_interval_overlap_equi_keys(spark):
    l = spark.createDataFrame(
        [Row(k="a", lid=1, ls=_t(1), le=_t(9)),
         Row(k="b", lid=2, ls=_t(1), le=_t(9))],
        "k string, lid int, ls timestamp, le timestamp",
    )
    r = spark.createDataFrame(
        [Row(k="a", rid=7, rs=_t(2), re=_t(3))],
        "k string, rid int, rs timestamp, re timestamp",
    )
    rows = interval_overlap_join(
        l, r, "ls", "le", "rs", "re", equi_keys=["k"]
    ).collect()
    assert [(x["lid"], x["rid"]) for x in rows] == [(1, 7)]


# ---------------------------------------------------------------------------
# block/paragraph keep-first dedup
# ---------------------------------------------------------------------------


def test_block_dedup_keep_first_semantics(spark):
    """Block 'a b c' first occurs in doc 1 at block 0; its copies in
    doc 1 (later block) and doc 2 drop. Unique blocks all survive."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c x y z a b c"),
            Row(doc_id=2, text="a b c"),
            Row(doc_id=3, text="q r s"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in block_dedup_keep_first(docs, block_words=3).collect()
    }
    # doc 1: blocks [a b c][x y z][a b c] -> third drops
    assert (out[1]["n_blocks"], out[1]["n_kept"]) == (3, 2)
    # doc 2 is entirely a copy -> empty survivor, md5('')
    assert (out[2]["n_blocks"], out[2]["n_kept"]) == (1, 0)
    assert out[2]["kept_fp"] == "d41d8cd98f00b204e9800998ecf8427e"
    assert (out[3]["n_blocks"], out[3]["n_kept"]) == (1, 1)
    # surviving text of doc 1 is the first two blocks re-joined
    expected = spark.createDataFrame(
        [Row(t="a b c x y z")]
    ).select(F.md5("t")).first()[0]
    assert out[1]["kept_fp"] == expected


def test_block_dedup_null_rows_excluded(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b"), Row(doc_id=None, text="a b"),
         Row(doc_id=2, text=None)],
        "doc_id bigint, text string",
    )
    out = block_dedup_keep_first(docs).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["n_kept"] == 1


def test_block_dedup_partial_tail_block(spark):
    """len not divisible by block_words: the short tail is its own
    block and dedups like any other."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e"), Row(doc_id=2, text="d e")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in block_dedup_keep_first(docs, block_words=3).collect()
    }
    assert (out[1]["n_blocks"], out[1]["n_kept"]) == (2, 2)
    assert (out[2]["n_blocks"], out[2]["n_kept"]) == (1, 0)


# ---------------------------------------------------------------------------
# skyline / Pareto frontier
# ---------------------------------------------------------------------------


def _sky_naive(rows, maxd, mind):
    out = []
    for a in rows:
        dominated = False
        for b in rows:
            if b is a:
                continue
            ge = all(b[c] >= a[c] for c in maxd) and all(
                b[c] <= a[c] for c in mind
            )
            gt = any(b[c] > a[c] for c in maxd) or any(
                b[c] < a[c] for c in mind
            )
            if ge and gt:
                dominated = True
                break
        if not dominated:
            out.append(a["id"])
    return sorted(out)


def test_skyline_matches_naive(spark):
    from airline_dataset_hadoop_public_spark.operators.skyline import skyline

    import random

    rng = random.Random(7)
    rows = [
        {"id": i, "x": rng.randint(0, 20), "y": rng.randint(0, 20)}
        for i in range(300)
    ]
    df = spark.createDataFrame(
        [Row(**r) for r in rows], "id int, x int, y int"
    ).repartition(8)
    got = sorted(
        r["id"]
        for r in skyline(df, maximize=["x"], minimize=["y"]).collect()
    )
    assert got == _sky_naive(rows, ["x"], ["y"])


def test_skyline_keeps_duplicate_points(spark):
    """Equal points dominate neither; both stay (ICDE'01 definition)."""
    from airline_dataset_hadoop_public_spark.operators.skyline import skyline

    df = spark.createDataFrame(
        [Row(id=1, x=5, y=5), Row(id=2, x=5, y=5), Row(id=3, x=4, y=5)],
        "id int, x int, y int",
    )
    got = sorted(r["id"] for r in skyline(df, maximize=["x", "y"]).collect())
    assert got == [1, 2]


def test_skyline_null_nan_rows_excluded(spark):
    from airline_dataset_hadoop_public_spark.operators.skyline import skyline

    df = spark.createDataFrame(
        [
            Row(id=1, x=1.0, y=1.0),
            Row(id=2, x=None, y=9.0),
            Row(id=3, x=float("nan"), y=9.0),
        ],
        "id int, x double, y double",
    )
    got = [r["id"] for r in skyline(df, maximize=["x", "y"]).collect()]
    assert got == [1]


def test_cusum_prefix_identity():
    """The window formulation S_t = P_t - min(0..t) P_j must equal the
    recursive definition S_t = max(0, S_(t-1) + d_t)."""
    import random

    rng = random.Random(3)
    d = [rng.uniform(-2, 2) for _ in range(500)]
    s_rec, out_rec = 0.0, []
    for x in d:
        s_rec = max(0.0, s_rec + x)
        out_rec.append(s_rec)
    p, pmin, out_win = 0.0, 0.0, []
    for x in d:
        p += x
        pmin = min(pmin, p)
        out_win.append(p - min(0.0, pmin))
    assert all(abs(a - b) < 1e-9 for a, b in zip(out_rec, out_win))


# ---------------------------------------------------------------------------
# watermark late-data drops (pytest-pinned, deliberately NOT a
# registered oracle query: Spark filters late rows against a watermark
# that LAGS the eviction watermark by one micro-batch — SPARK-40925
# split watermarkForLateEvents from watermarkForEviction — so the
# admitted-row set depends on batch boundaries in a way no engine-
# independent SQL oracle should pin. What IS contractual: the drop
# counter fires, append-mode output is a subset of the batch result,
# and the final open window is withheld.)
# ---------------------------------------------------------------------------


def test_watermark_drops_late_rows_and_append_is_sound(spark, tmp_path):
    import glob
    import os
    import uuid

    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    ev = load_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    d0 = ev.agg(F.min(F.to_date("ts"))).first()[0]
    data = str(tmp_path / "replay")
    os.makedirs(data)
    # three replay files: the post-day-1 bulk first, then the day-1
    # stragglers in two batches — the second straggler batch arrives
    # after the late-event watermark has caught up, so drops fire
    parts = [
        ev.filter(F.to_date("ts") > F.lit(d0)),
        ev.filter((F.to_date("ts") <= F.lit(d0)) & (F.hour("ts") < 12)),
        ev.filter((F.to_date("ts") <= F.lit(d0)) & (F.hour("ts") >= 12)),
    ]
    for i, p in enumerate(parts):
        tmp = str(tmp_path / f"t{i}")
        p.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(tmp + "/part-*.parquet")
        dst = os.path.join(data, f"b{i}.parquet")
        os.replace(src, dst)
        os.utime(dst, (1_000_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data)
        .filter(F.col("ts").isNotNull())
        .withWatermark("ts", "1 hour")
    )
    agg = stream.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    name = f"late_{uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for s in (p.get("stateOperators") or [])
    )
    assert dropped > 0, "no late rows were dropped by the watermark"

    emitted = {
        ((r["w"]["start"], r["event_type"])): r["n"]
        for r in spark.table(name).collect()
    }
    batch = {
        (r["w"]["start"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # soundness: append never emits a window the batch plan doesn't
    # have, and never with MORE rows than actually exist
    assert set(emitted) <= set(batch)
    assert all(emitted[k] <= batch[k] for k in emitted)
    # the final open window (containing the max on-time event) is
    # withheld: its end is above the final watermark
    last_start = max(s for s, _ in batch)
    assert all(s < last_start for s, _ in emitted)
    spark.catalog.dropTempView(name)


# ---------------------------------------------------------------------------
# distributed NTILE
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n,k", [(1, 5), (4, 5), (5, 5), (7, 5), (23, 5),
                                 (100, 7), (101, 7)])
def test_ntile_distributed_equals_window_ntile(spark, n, k):
    """The closed-form bucket mapping must equal Spark's own NTILE for
    every n % k residue class (bucket sizes differ by one, larger
    buckets first)."""
    from pyspark.sql import Window

    from airline_dataset_hadoop_public_spark.operators.topk import (
        ntile_distributed,
    )

    df = spark.range(n).select(F.col("id")).repartition(4)
    got = {
        r["id"]: r["b"]
        for r in ntile_distributed(df, ["id"], k, out="b").collect()
    }
    want = {
        r["id"]: r["b"]
        for r in df.select(
            "id", F.ntile(k).over(Window.orderBy("id")).alias("b")
        ).collect()
    }
    assert got == want
