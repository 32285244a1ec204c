"""Scale-pattern wave: bucketed shuffle-free joins, MERGE upsert,
SCD-2 intervals, distributed Gramian, sparse tf-idf cosine join.

Result semantics are covered by the DuckDB oracles (fixtures_scale_
patterns.py); these tests pin the PHYSICAL contracts — the zero-
exchange bucketed join, the Arrow-batched Gramian with its tiny
shuffle, and small-frame semantics/empty-input robustness for the
operators themselves.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    import __spark_entry__ as e

    return e.queries()


# ---------------------------------------------------------------------------
# bucketed join
# ---------------------------------------------------------------------------


def test_bucketed_join_has_zero_exchanges(spark):
    """The whole point of bucketing: a key-equi-join of two tables
    bucketed on that key plans with NO shuffle on either side, even
    when neither qualifies for broadcast."""
    from airline_dataset_hadoop_public_spark.plans.fixtures_scale_patterns import (
        _warehouse_dir,
    )
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table
    from airline_dataset_hadoop_public_spark.sources.warehouse import (
        bucketed_table,
    )

    base = _warehouse_dir(SF)
    cust = bucketed_table(
        spark, SF, "customer", load_table(spark, SF, "customer"),
        "c_custkey", 8, base,
    )
    orders = bucketed_table(
        spark, SF, "orders", load_table(spark, SF, "orders"),
        "o_custkey", 8, base,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = cust.join(orders, cust.c_custkey == orders.o_custkey)
        plan = _plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan
    # sorted bucket files: the merge needs no re-sort either
    assert joined.count() == orders.count()


def test_bucketed_join_query_scans_bucketed_tables(spark, qs):
    plan = _plan(qs["warehouse_bucketed_join"](spark, SF))
    assert "Bucketed: true" in plan


def test_bucketed_table_mirror_reuse_roundtrips(spark):
    """Second call (fresh catalog path) re-registers the existing files
    via DDL and reads identical data."""
    from airline_dataset_hadoop_public_spark.plans.fixtures_scale_patterns import (
        _warehouse_dir,
    )
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table
    from airline_dataset_hadoop_public_spark.sources.warehouse import (
        bucketed_table,
    )

    base = _warehouse_dir(SF)
    df = load_table(spark, SF, "customer")
    first = bucketed_table(spark, SF, "customer", df, "c_custkey", 8, base)
    n1 = first.count()
    again = bucketed_table(spark, SF, "customer", df, "c_custkey", 8, base)
    assert again.count() == n1 == df.count()
    assert "Bucketed: true" in _plan(
        again.groupBy("c_custkey").count()
    )


# ---------------------------------------------------------------------------
# merge upsert
# ---------------------------------------------------------------------------


def test_merge_upsert_semantics(spark):
    from airline_dataset_hadoop_public_spark.operators.relational import (
        merge_upsert,
    )

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k INT, v STRING"
    )
    delta = spark.createDataFrame([(2, "B"), (4, "D")], "k INT, v STRING")
    out = {r["k"]: r["v"] for r in merge_upsert(base, delta, ["k"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "D"}
    # empty delta → base unchanged; empty base → delta
    assert merge_upsert(base, delta.limit(0), ["k"]).count() == 3
    assert merge_upsert(base.limit(0), delta, ["k"]).count() == 2


# ---------------------------------------------------------------------------
# SCD-2
# ---------------------------------------------------------------------------


def test_scd2_runs_and_versions(spark):
    from airline_dataset_hadoop_public_spark.operators.relational import (
        scd2_intervals,
    )

    t = datetime.datetime(2024, 1, 1)

    def d(days):
        return t + datetime.timedelta(days=days)

    hist = spark.createDataFrame(
        [
            (1, "lo", d(0), 10),
            (1, "lo", d(1), 11),
            (1, "hi", d(2), 12),
            (1, "lo", d(3), 13),
            (2, "hi", d(0), 20),
        ],
        "ent INT, attr STRING, ts TIMESTAMP, uid INT",
    )
    rows = scd2_intervals(hist, "ent", "attr", "ts", "uid").collect()
    e1 = sorted(
        [r for r in rows if r["ent"] == 1], key=lambda r: r["version"]
    )
    assert [r["attr"] for r in e1] == ["lo", "hi", "lo"]
    assert [r["n_rows"] for r in e1] == [2, 1, 1]
    assert [r["is_current"] for r in e1] == [False, False, True]
    assert e1[0]["valid_from"] == d(0) and e1[0]["valid_to"] == d(1)
    e2 = [r for r in rows if r["ent"] == 2]
    assert len(e2) == 1 and e2[0]["is_current"]
    # ties on ts break by uid: same-ts flip still yields two runs
    tie = spark.createDataFrame(
        [(1, "a", d(0), 1), (1, "b", d(0), 2)],
        "ent INT, attr STRING, ts TIMESTAMP, uid INT",
    )
    assert scd2_intervals(tie, "ent", "attr", "ts", "uid").count() == 2


def test_scd2_single_exchange(spark, qs):
    plan = _plan(qs["orders_priority_scd2"](spark, SF))
    assert plan.count("Exchange") == 1  # every window shares one key


# ---------------------------------------------------------------------------
# Gramian / PCA
# ---------------------------------------------------------------------------


def test_gram_is_arrow_batched_with_tiny_shuffle(spark, qs):
    plan = _plan(qs["embeddings_gram_matrix"](spark, SF))
    assert "MapInPandas" in plan  # per-batch BLAS partials
    assert plan.count("Exchange") == 1  # only the (i, j) partial agg


def test_gram_matches_numpy(spark):
    import numpy as np

    from airline_dataset_hadoop_public_spark.operators.linalg import (
        gram_matrix,
    )
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    x = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    expect = x.T @ x
    got = gram_matrix(emb, "embedding", ndigits=6).collect()
    assert len(got) == x.shape[1] * (x.shape[1] + 1) // 2
    for r in got:
        assert abs(r["gram"] - expect[r["i"] - 1, r["j"] - 1]) < 1e-5


def test_gram_empty_input(spark):
    from airline_dataset_hadoop_public_spark.operators.linalg import (
        gram_matrix,
    )
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings").limit(0)
    assert gram_matrix(emb, "embedding").count() == 0


def test_top_component_matches_numpy_eigh(spark):
    import numpy as np

    from airline_dataset_hadoop_public_spark.operators.linalg import (
        top_component,
    )
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    x = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    vals, vecs = np.linalg.eigh(x.T @ x)
    ref = vecs[:, -1]
    got = np.array(top_component(emb, "embedding"))
    assert abs(abs(ref @ got) - 1.0) < 1e-6


# ---------------------------------------------------------------------------
# tf-idf cosine pairs
# ---------------------------------------------------------------------------


def test_tfidf_cosine_pairs_plan_is_jvm_side(spark, qs):
    plan = _plan(qs["docs_tfidf_cosine_pairs"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_cosine_pairs_detects_near_dups(spark):
    from airline_dataset_hadoop_public_spark.operators.text import (
        tfidf_cosine_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "one two three four five"),
            (4, "one two three four six"),
            (5, "unrelated totally different words here"),
            (6, "alpha beta gamma delta epsilon"),
        ],
        "doc_id INT, text STRING",
    )
    rows = tfidf_cosine_pairs(docs, "doc_id", "text", stop_df_divisor=1).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in rows}
    assert pairs[(1, 6)] == pytest.approx(1.0)  # exact dup in pruned space
    assert (1, 2) in pairs and (3, 4) in pairs
    assert not any(5 in p for p in pairs)


# ---------------------------------------------------------------------------
# incremental agg merge / snapshot diff / ORC round-trip
# ---------------------------------------------------------------------------


def test_incremental_merge_equals_full_recompute(spark, qs):
    got = {
        r["event_type"]: r
        for r in qs["events_incremental_agg_merge"](spark, SF).collect()
    }
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    full = {
        r["event_type"]: r
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert set(got) == set(full)
    for k, r in got.items():
        assert r["n_events"] == full[k]["n"]
        assert r["min_value"] == full[k]["mn"]
        assert r["max_value"] == full[k]["mx"]


def test_snapshot_diff_classifies_all_four(spark, qs):
    rows = {r["change_type"]: r["n_keys"] for r in
            qs["orders_snapshot_diff"](spark, SF).collect()}
    assert set(rows) == {"added", "removed", "changed", "unchanged"}
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    # every key in old ∪ new classified exactly once (orderkeys are
    # sparse, so a key divisible by both 89 and 101 can exist and
    # belongs to neither snapshot)
    n = (
        load_table(spark, SF, "orders")
        .filter(
            (F.col("o_orderkey") % 89 != 0) | (F.col("o_orderkey") % 101 != 0)
        )
        .count()
    )
    assert sum(rows.values()) == n


def test_orc_roundtrip_covers_all_days(spark, qs):
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    out = qs["ingest_orc_roundtrip"](spark, SF)
    events = load_table(spark, SF, "events")
    days = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).distinct()
    got = out.collect()
    assert len(got) == days.count()
    assert sum(r["n_events"] for r in got) == events.count()
    assert out.schema["day"].dataType.simpleString() == "string"


# ---------------------------------------------------------------------------
# data layout: range-partitioned sorted writes → file-skippable stats
# ---------------------------------------------------------------------------


def test_range_partitioned_sorted_write_is_file_skippable(spark, tmp_path):
    """The write layout that makes 100 TB scans cheap: repartitionByRange
    + sortWithinPartitions on the filter key yields parquet files whose
    footer min/max ranges are DISJOINT, so a time-scoped query prunes
    whole files (and row groups) instead of scanning the table. The
    footers are inspected directly — this asserts the layout property
    itself, not a plan string."""
    import glob

    import pyarrow.parquet as pq

    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    out = str(tmp_path / "events_sorted")
    events = load_table(spark, SF, "events")
    # INT96 (legacy default) carries NO column statistics — a sorted
    # layout is only skippable when written as TIMESTAMP_MICROS
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try:
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        (
            events.withColumn("day", F.to_date("ts"))
            .repartitionByRange(4, "day")
            .sortWithinPartitions("day", "ts")
            .drop("day")
            .write.parquet(out)
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) >= 3  # range split actually happened
    ranges = []
    for fp in files:
        pf = pq.ParquetFile(fp)
        idx = pf.schema_arrow.get_field_index("ts")
        lo, hi = None, None
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        ranges.append((lo, hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint → file-level skipping works
    # and the filter the layout serves still pushes down to the scan
    scan = spark.read.parquet(out).filter(F.col("ts") < "2024-01-05")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), LessThan(ts" in plan
    total = spark.read.parquet(out).count()
    assert scan.count() + spark.read.parquet(out).filter(
        F.col("ts") >= "2024-01-05"
    ).count() == total


def test_countmin_overestimates_only(spark, qs):
    rows = qs["events_countmin_heavy_hitters"](spark, SF).collect()
    assert len(rows) == 10
    # CMS guarantee: the minimum over hash rows never undercounts
    assert all(r["est_cnt"] >= r["true_cnt"] for r in rows)


# ---------------------------------------------------------------------------
# custom Python data source
# ---------------------------------------------------------------------------


def test_python_datasource_partition_parallel(spark):
    from airline_dataset_hadoop_public_spark.sources.pysource import (
        register_synthetic_source,
        synth_row,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n", "1000")
        .option("partitions", "4")
        .load()
    )
    # the source's partitions() drive task parallelism directly
    assert df.rdd.getNumPartitions() == 4
    rows = {r["event_id"]: r for r in df.collect()}
    assert len(rows) == 1000
    for idx in (0, 1, 999):
        eid, uid, etype, val = synth_row(idx)
        r = rows[idx]
        assert (r["user_id"], r["event_type"], r["value"]) == (uid, etype, val)


# ---------------------------------------------------------------------------
# streaming: watermark late-data DROP across checkpointed restarts
# ---------------------------------------------------------------------------


def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    """Append-mode semantics the declared-watermark queries rely on at
    scale: state persists in the checkpoint across restarts, and a row
    arriving behind the watermark is DROPPED (its window never emits),
    while a late-but-inside-watermark row still lands in its window.
    Deterministic because the watermark is exact event-time arithmetic
    carried by the checkpoint, not wall-clock."""
    import datetime

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def ts(h, m=0, s=0):
        return datetime.datetime(2024, 1, 10, h, m, s)

    def write_batch(rows):
        spark.createDataFrame(rows, "ts TIMESTAMP, k STRING").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run_once():
        # parquet sink: append-mode + restart-capable from checkpoint
        # (a memory sink cannot recover offsets across restarts)
        stream = spark.readStream.schema("ts TIMESTAMP, k STRING").parquet(src)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .count()
        )
        q = (
            agg.select(F.col("window.start").alias("w"), "count")
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .option("path", sink)
            .format("parquet")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {(r["w"], r["count"]) for r in spark.read.parquet(sink).collect()}

    # run 1: on-time rows; max ts 12:00:05 → watermark 11:00:05 after
    # the batch, so window [10,11) finalizes and emits
    write_batch([(ts(10, 0, 5), "a"), (ts(12, 0, 5), "a")])
    out1 = run_once()
    assert (ts(10), 1) in out1
    # run 2 (restart from checkpoint): 09:30 is BEHIND the persisted
    # watermark (its window end 10:00 < 11:00:05) → dropped; 11:30 is
    # late but inside → joins its open window
    write_batch([(ts(9, 30), "late-dropped"), (ts(11, 30), "late-kept")])
    out2 = run_once()
    # run 3: 14:10 advances the watermark past 13:00 → [11,12) and
    # [12,13) finalize; the dropped 09:30 row's window must NOT appear
    write_batch([(ts(14, 10), "a")])
    out3 = run_once()
    emitted = out1 | out2 | out3
    assert (ts(11), 1) in emitted  # late-kept row counted
    assert (ts(12), 1) in emitted
    assert not any(w == ts(9) for w, _ in emitted)  # dropped row's window


# ---------------------------------------------------------------------------
# pipeline observability: Observation metrics ride the action for free
# ---------------------------------------------------------------------------


def test_observation_metrics_on_clean_pipeline(spark):
    """Production telemetry without a second scan: df.observe()
    accumulates metrics DURING the action (no extra job, unlike a
    separate .agg() pass — at 100 TB a second scan is the difference
    between free counters and an extra table read)."""
    from pyspark.sql import Observation

    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    obs = Observation("clean_metrics")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.count_if(F.length("text") == 0).alias("n_empty"),
    )
    kept = observed.filter(F.length("text") > 0).count()
    m = obs.get
    assert m["n_docs"] == docs.count()
    assert m["n_empty"] == docs.filter(F.length("text") == 0).count()
    assert kept == m["n_docs"] - m["n_empty"]
    assert m["n_chars"] > 0


def test_zorder_layout_skips_files_on_both_dimensions(spark, tmp_path):
    """The Z-order claim, asserted from parquet footers: with files
    laid out by Morton key, a filter on EITHER dimension excludes most
    files' [min,max] ranges; a 1-D sort only ever skips on its own
    sort key. (This is what OPTIMIZE ZORDER buys at 100 TB: one layout
    serving two filter columns.)"""
    import glob

    import pyarrow.parquet as pq

    from airline_dataset_hadoop_public_spark.plans.fixtures_scale_patterns import (
        _morton_sql,
    )

    n, files = 4096, 16
    base = spark.range(n).selectExpr(
        "id", "id % 256 AS ux", "(id * 37) % 256 AS ky"
    )
    morton = _morton_sql("ux", "ky", lambda v, b: f"shiftright({v}, {b})")
    zed = base.selectExpr("id", "ux", "ky", f"({morton}) AS morton")

    def write_layout(df, sort_col, name):
        out = str(tmp_path / name)
        (
            df.repartitionByRange(files, F.col(sort_col))
            .sortWithinPartitions(sort_col)
            .write.parquet(out)
        )
        return out

    def skippable(out, col, value):
        skipped = 0
        for fp in glob.glob(out + "/*.parquet"):
            pf = pq.ParquetFile(fp)
            idx = pf.schema_arrow.get_field_index(col)
            st = pf.metadata.row_group(0).column(idx).statistics
            lo, hi = st.min, st.max
            for rg in range(1, pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(idx).statistics
                lo, hi = min(lo, st.min), max(hi, st.max)
            if value < lo or value > hi:
                skipped += 1
        return skipped

    z_out = write_layout(zed, "morton", "zorder")
    u_out = write_layout(zed, "ux", "uxsort")
    # 1-D layout: perfect on its own key, blind on the other
    assert skippable(u_out, "ux", 200) >= files // 2
    assert skippable(u_out, "ky", 200) == 0
    # Z-order: most files skippable on EITHER dimension
    assert skippable(z_out, "ux", 200) >= files // 2
    assert skippable(z_out, "ky", 200) >= files // 2


def test_hll_sketches_merge_across_days(spark):
    """Mergeable-sketch pattern (Datasketches HLL): per-day sketches
    union to the period estimate WITHOUT rescanning events — the
    re-aggregatable distinct-count any 100 TB rollup table needs
    (exact COUNT(DISTINCT) cannot be merged from per-day results).
    Estimate within 5% of exact; identical input → identical sketch,
    so the merge path is deterministic."""
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    ev = load_table(spark, SF, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_day"),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    exact = ev.select("user_id").distinct().count()
    assert abs(merged - exact) / exact < 0.05
    # per-day sketch estimates are sane too
    row = daily.select(
        F.hll_sketch_estimate("sk").alias("e"), "exact_day"
    ).first()
    assert abs(row["e"] - row["exact_day"]) / max(row["exact_day"], 1) < 0.1


def test_gram_quantized_is_exact_dyadic(spark):
    """The quantized path equals an integer-exact numpy reference
    bit-for-bit — the property the cross-engine contract rests on."""
    import numpy as np

    from airline_dataset_hadoop_public_spark.operators.linalg import (
        gram_matrix,
    )
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    x = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    q = np.floor(x * 1024.0 + 0.5).astype(np.int64)
    expect = (q.T @ q).astype(np.float64) / 1048576.0
    got = gram_matrix(emb, "embedding", quantize_bits=10).collect()
    assert len(got) == x.shape[1] * (x.shape[1] + 1) // 2
    for r in got:
        assert r["gram"] == expect[r["i"] - 1, r["j"] - 1]  # exact, no eps


def test_gram_quantized_flush_keeps_exactness(spark, monkeypatch):
    """Shrinking the int64 headroom forces the kernel to flush partials
    mid-partition; the decimal cross-batch sum must reassemble the
    exact same Gramian (the overflow-guard tier must never change the
    answer, only the partial count)."""
    import numpy as np

    from airline_dataset_hadoop_public_spark.operators import linalg
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings").coalesce(1)
    x = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    q = np.floor(x * 1024.0 + 0.5).astype(np.int64)
    expect = (q.T @ q).astype(np.float64) / 1048576.0
    qmax = int(np.abs(q).max())

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")  # many small batches in the one task
    # headroom passes any single 7-row batch but forces a flush every
    # ~3 batches — multiple partials per (i, j) key reach the agg
    monkeypatch.setattr(linalg, "_INT64_HEADROOM", 3 * 7 * qmax * qmax)
    try:
        got = linalg.gram_matrix(emb, "embedding", quantize_bits=10).collect()
    finally:
        spark.conf.set(key, old)
    assert len(got) == x.shape[1] * (x.shape[1] + 1) // 2
    for r in got:
        assert r["gram"] == expect[r["i"] - 1, r["j"] - 1]  # still exact


def test_gram_quantized_single_batch_overflow_raises(spark, monkeypatch):
    """A batch that alone could wrap int64 must raise, not wrap."""
    import pytest

    from airline_dataset_hadoop_public_spark.operators import linalg
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    monkeypatch.setattr(linalg, "_INT64_HEADROOM", 1)
    with pytest.raises(Exception, match="int64 headroom"):
        linalg.gram_matrix(emb, "embedding", quantize_bits=10).collect()


# ---------------------------------------------------------------------------
# DDSketch quantiles
# ---------------------------------------------------------------------------


def test_ddsketch_rel_err_within_alpha(spark):
    """The sketch's guarantee is on the VALUE: every estimate within
    alpha relative error of the true rank value (Masson et al. 2019,
    Thm 1 for the midpoint readout)."""
    from airline_dataset_hadoop_public_spark.operators.sketches import (
        ddsketch_quantiles,
    )
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    ev = load_table(spark, SF, "events")
    rows = ddsketch_quantiles(ev, "event_type", "value", alpha=0.01).collect()
    assert len(rows) == 5 * 3  # |event_type| x |qs|
    for r in rows:
        assert r["rel_err"] <= 0.01, r
        assert abs(r["est"] - r["exact_val"]) / r["exact_val"] <= 0.0101


def test_ddsketch_bucket_boundary_margin():
    """bucket = ceil(ln(x)/ln_gamma) is the one cross-engine float
    decision in the sketch; a value within libm noise (~1e-13) of an
    integer boundary could bucket differently in Spark vs DuckDB. Pin
    the fixture margin at ALL three scales: the only exact-boundary
    value is 1.0 (ln(1.0) == 0.0 exactly in every libm); every other
    value sits >= 1e-5 ratio units from its boundary."""
    import duckdb
    import numpy as np

    from airline_dataset_hadoop_public_spark.plans.fixtures_scale_patterns import (
        _DD_LN_GAMMA,
    )

    for sf in ("0.001", "0.01", "0.1"):
        vals = duckdb.sql(
            f"SELECT value FROM '/root/testdata/sf{sf}/events.parquet' "
            "WHERE value IS NOT NULL AND isfinite(value) AND value > 0"
        ).fetchnumpy()["value"]
        r = np.log(vals) / _DD_LN_GAMMA
        d = np.abs(r - np.round(r))
        on_boundary = vals[d == 0]
        assert set(np.unique(on_boundary)) <= {1.0}
        if (d > 0).any():
            assert d[d > 0].min() >= 1e-5


def test_ddsketch_invalid_rows_excluded(spark):
    """Contract: the sketch domain is finite values > 0 with non-NULL
    keys — NULL/NaN/Inf/non-positive rows must not shift any rank."""
    from airline_dataset_hadoop_public_spark.operators.sketches import (
        ddsketch_quantiles,
    )

    base = [("a", float(i)) for i in range(1, 101)]
    junk = [
        ("a", None),
        ("a", float("nan")),
        ("a", float("inf")),
        ("a", -5.0),
        ("a", 0.0),
        (None, 50.0),
    ]
    clean = spark.createDataFrame(base, "k string, v double")
    dirty = spark.createDataFrame(base + junk, "k string, v double")
    a = {(r["q"]): (r["bucket"], r["n"], r["est"]) for r in
         ddsketch_quantiles(clean, "k", "v").collect()}
    b = {(r["q"]): (r["bucket"], r["n"], r["est"]) for r in
         ddsketch_quantiles(dirty, "k", "v").collect()}
    assert a == b
    assert all(n == 100 for _, n, _ in a.values())


def test_ddsketch_empty_input(spark):
    from airline_dataset_hadoop_public_spark.operators.sketches import (
        ddsketch_quantiles,
    )

    empty = spark.createDataFrame([], "k string, v double")
    assert ddsketch_quantiles(empty, "k", "v").count() == 0


# ---------------------------------------------------------------------------
# dynamic partition pruning
# ---------------------------------------------------------------------------


def test_dpp_weekend_scan_plan_prunes_partitions(spark):
    """The fact scan must carry BOTH scan-reduction mechanisms the
    query exists to demonstrate: a dynamicpruning subquery on the
    partition column (DPP proper) and the join-inferred static
    weekend predicate as a PartitionFilter. Either alone already
    prunes directories; together they are the star-schema date-dim
    plan a 100 TB deployment expects."""
    from airline_dataset_hadoop_public_spark.plans.fixtures_scale_patterns import (
        events_dpp_weekend_scan,
    )

    plan = _plan(events_dpp_weekend_scan(spark, SF))
    assert "dynamicpruning" in plan.lower()
    scan_lines = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and ".scratch/dpp/" in ln
    ]
    assert scan_lines, "date-partitioned fact scan not found in plan"
    assert "dayofweek(event_date" in scan_lines[0]
