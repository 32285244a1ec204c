"""r4c additions: CDC change-log apply (last-writer-wins compaction)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row


@pytest.fixture()
def tiny_orders_dir(spark, tmp_path):
    """Keys chosen to hit every op class: 1 -> I only; 5 -> I,U;
    7 -> I,D (dead); 35 -> I,U,D,I (delete-then-reinsert)."""
    rows = [
        Row(o_orderkey=k, o_totalprice=100.0 * k, o_orderpriority="3-MEDIUM")
        for k in (1, 5, 7, 35)
    ]
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_cdc_apply_last_writer_wins(spark, tiny_orders_dir):
    import __spark_entry__ as e

    out = {
        r["o_orderkey"]: r
        for r in e.queries()["orders_cdc_log_apply"](
            spark, tiny_orders_dir
        ).collect()
    }
    # plain insert: untouched
    assert out[1]["price"] == 100.0
    assert out[1]["n_ops"] == 1 and out[1]["last_lsn"] == 1
    assert out[1]["priority"] == "3-MEDIUM"
    # insert+update: doubled price, urgent priority
    assert out[5]["price"] == 1000.0
    assert out[5]["priority"] == "1-URGENT"
    assert out[5]["n_ops"] == 2 and out[5]["last_lsn"] == 2
    # insert+delete: absent — a tombstone as the last op removes the key
    assert 7 not in out
    # delete-then-REINSERT: the truly-last op wins, not "any tombstone"
    assert out[35]["price"] == 1750.0  # 3500.0 / 2
    assert out[35]["priority"] == "3-MEDIUM"
    assert out[35]["n_ops"] == 4 and out[35]["last_lsn"] == 4
    assert set(out) == {1, 5, 35}


def test_cdc_apply_zero_rows(spark, tmp_path):
    from tests.test_r4_ops import _empty_tables

    import __spark_entry__ as e

    sf = _empty_tables(tmp_path)
    assert e.queries()["orders_cdc_log_apply"](spark, sf).count() == 0


def test_cdc_apply_plan_is_one_partial_aggregate(spark, tiny_orders_dir):
    """The compaction must be ONE shuffle with map-side combine and no
    window sort: partial_max_by below a single Exchange, no Window."""
    import __spark_entry__ as e

    df = e.queries()["orders_cdc_log_apply"](spark, tiny_orders_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# Exact-substring span removal (Lee et al. 2022 layout)
# ---------------------------------------------------------------------------


def test_span_removal_known_answer(spark, tmp_path):
    import hashlib

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, f"{shared} near the river bank today"),
        (2, f"a totally different sentence with {shared} inside it"),
        (3, "nothing shared here at all just unique words forever and ever"),
        (4, None),
        (5, "short"),
    ]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from airline_dataset_hadoop_public_spark.operators.text import (
        duplicate_span_removal,
    )
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    docs = load_table(spark, str(tmp_path), "documents")
    out = {
        r["doc_id"]: r
        for r in duplicate_span_removal(docs, "doc_id", "text", k=20).collect()
    }
    # NULL text excluded; doc shorter than k kept whole
    assert set(out) == {1, 2, 3, 5}
    assert out[5]["n_spans_removed"] == 0 and out[5]["n_chars_kept"] == 5
    # untouched doc: fingerprint equals md5 of its whole normalized text
    assert out[3]["kept_fp"] == hashlib.md5(rows[2][1].encode()).hexdigest()
    # the shared 44-char substring is removed from BOTH docs: every
    # position of the shared run is covered by some duplicated 20-gram,
    # so the merged span is the full 44 chars (+ boundary overlap into
    # the context that rides inside the k-gram window)
    assert out[1]["n_spans_removed"] == 1
    assert out[2]["n_spans_removed"] == 1
    assert out[1]["chars_removed"] == out[2]["chars_removed"] == 44
    # removal is consistent: kept + removed = original length
    for d, full in ((1, rows[0][1]), (2, rows[1][1])):
        assert out[d]["n_chars_kept"] + out[d]["chars_removed"] == len(full)


def test_span_removal_zero_rows(spark, tmp_path):
    from tests.test_r4_ops import _empty_tables

    import __spark_entry__ as e

    sf = _empty_tables(tmp_path)
    assert e.queries()["dedup_span_removal"](spark, sf).count() == 0


def test_span_removal_plan_shape(spark):
    """One corpus-wide shuffle for the duplicated-gram count; the
    interval merge + stitch are doc-key windows; the hash kernel is
    Arrow-batched (never row-at-a-time Python)."""
    import __spark_entry__ as e

    df = e.queries()["dedup_span_removal"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


# ---------------------------------------------------------------------------
# Review-fix pins: NULL-timestamp as-of rows, all-NULL running sum
# ---------------------------------------------------------------------------


def test_asof_join_drops_null_timestamps(spark):
    """SQL ASOF semantics: `left_ts >= right_ts` is never true around
    NULL, so NULL-ts rows on either side must not match — a NULL
    right_ts would otherwise sort NULLS-FIRST and its payload would
    carry into every later left row."""
    import datetime as dt

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    from airline_dataset_hadoop_public_spark.operators.range_join import (
        asof_join,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    lschema = StructType(
        [
            StructField("eid", LongType()),
            StructField("u", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    rschema = StructType(
        [
            StructField("u", StringType()),
            StructField("p_ts", TimestampType()),
            StructField("p_value", DoubleType()),
        ]
    )
    left = spark.createDataFrame(
        [(1, "a", t(10)), (2, "a", None), (3, "b", t(10))], lschema
    )
    right = spark.createDataFrame(
        [("a", None, 99.0), ("a", t(5), 1.0), ("b", None, 99.0)], rschema
    )
    out = {
        r["eid"]: r["p_value"]
        for r in asof_join(
            left, right, keys=["u"], left_ts="ts", right_ts="p_ts",
            payload=["p_value"], id_col="eid",
        ).collect()
    }
    # eid 1 matches the real t(5) purchase — NEVER the NULL-ts row;
    # eid 2 (NULL left ts) and eid 3 (only a NULL-ts right row) drop
    assert out == {1: 1.0}


def test_running_count_sum_all_null_key_sums_null(spark, tmp_path):
    """SQL SUM over only NULLs is NULL, not 0.0 — the state kernel
    tracks non-NULL contributions so an all-NULL key matches the
    batch oracle."""
    import datetime as dt

    from pyspark.sql import Row

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(event_id=1, ts=t0, user_id=7, event_type="click", value=None,
            props="{}"),
        Row(event_id=2, ts=t0, user_id=8, event_type="click", value=2.5,
            props="{}"),
        Row(event_id=3, ts=t0, user_id=8, event_type="view", value=None,
            props="{}"),
    ]
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    import os

    import __spark_entry__ as e
    from tests.test_r4_ops import _empty_tables

    # empty fixture set, then swap in our three-event table
    mix = tmp_path / "mix"
    mix.mkdir()
    sf = _empty_tables(mix)
    # _empty_tables writes single parquet FILES (pyarrow), not dirs
    ev_path = f"{sf}/events.parquet"
    if os.path.isfile(ev_path):
        os.remove(ev_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        ev_path
    )
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in e.queries()["streaming_stateful_running_counts"](
            spark, sf
        ).collect()
    }
    assert got == {7: (1, None), 8: (2, 2.5)}
