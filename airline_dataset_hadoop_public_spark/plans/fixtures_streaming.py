"""Streaming queries for the driver gate (SURVEY.md §2.10).

Each runs a real Structured Streaming query (file source → windowed
agg → memory sink) drained synchronously; complete output mode makes
the final table equal the equivalent batch aggregation, which is what
the DuckDB oracle computes. The watermark is declared (state-retention
semantics) but cannot withhold windows under complete mode — append-
mode watermark behavior is covered in tests/test_extensions.py
(withheld open windows) and tests/test_scale_patterns.py
(checkpointed late-row drop across restarts).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ..streaming.windows import (
    run_file_stream_batch,
    session_window_agg,
    windowed_agg,
)
from .registry import register

from ..runtime import scratch_dir as _scratch_dir, source_scratch_key

_SCRATCH = _scratch_dir()


def _events_stream_dir(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """Materialize timestamp-normalized events once per sf as a
    parquet dir (file streams need micros timestamps + a directory).

    The cache key includes the source file's (mtime, size) so a
    regenerated fixture corpus invalidates the mirror — a stale mirror
    would silently diverge from the oracle's view of `events`.
    """
    key = source_scratch_key(sf_dir, "events.parquet")
    path = os.path.join(_SCRATCH, "stream_src", key, "events")
    marker = os.path.join(path, "_SUCCESS")
    ev = load_table(spark, sf_dir, "events")
    if not os.path.exists(marker):
        ev.write.mode("overwrite").parquet(path)
    return path, ev.schema


_TUMBLING_ORACLE = """
SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


@register("streaming_tumbling_counts", _TUMBLING_ORACLE)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, schema = _events_stream_dir(spark, sf_dir)
    return run_file_stream_batch(
        spark,
        src,
        schema,
        lambda s: windowed_agg(s, "1 day", watermark="1 hour"),
    )


# Sliding window: 1-day windows every 12 hours — each event lands in
# two windows. Oracle enumerates both epoch-aligned starts per event
# (Spark aligns window starts to the unix epoch; make_timestamp
# rebuilds the naive UTC timestamp from epoch seconds).
_SLIDING_ORACLE = """
SELECT STRFTIME(s, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM (
  SELECT event_type, value,
         UNNEST([
           make_timestamp((CAST(floor(epoch(ts) / 43200) AS BIGINT) - 1)
                          * 43200 * 1000000),
           make_timestamp(CAST(floor(epoch(ts) / 43200) AS BIGINT)
                          * 43200 * 1000000)
         ]) AS s
  FROM events)
GROUP BY 1, 2
"""


@register("streaming_sliding_counts", _SLIDING_ORACLE)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, schema = _events_stream_dir(spark, sf_dir)
    return run_file_stream_batch(
        spark,
        src,
        schema,
        lambda s: windowed_agg(s, "1 day", watermark="1 hour", slide="12 hours"),
    )


# Session windows (gap 6h) per user over the same stream. Oracle:
# classic lag + cumulative-sum sessionization — a new session starts
# exactly when the gap to the previous event is >= the 6h gap, which
# matches Spark session_window's strict [ts, ts+gap) merge rule.
_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 6 HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM events),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o)
SELECT user_id, STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
"""


@register("streaming_session_windows", _SESSION_ORACLE)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, schema = _events_stream_dir(spark, sf_dir)
    return run_file_stream_batch(
        spark,
        src,
        schema,
        lambda s: session_window_agg(s, watermark="1 hour"),
    )


# Custom stateful operator (applyInPandasWithState): per-user running
# (count, sum). The final emission per key equals the batch aggregate,
# so even arbitrary cross-batch Python state is oracle-checkable.
# NULL-or-finite guard (FIXTURES.md §K): the Arrow float64 batch the
# stateful kernel sees cannot distinguish NULL from NaN, so NaN/Inf
# are filtered on BOTH sides while NULLs keep their SQL semantics
# (counted by COUNT(*), skipped by SUM — which is exactly what the
# pandas kernel's skipna does with the NaN-encoded NULLs).
_STATEFUL_ORACLE = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM events WHERE value IS NULL OR isfinite(value)
GROUP BY user_id
"""


# Stream-static enrichment join: the unbounded event stream joined to
# a broadcast dimension (nation via user_id % 25) BEFORE the windowless
# aggregation. Stream-static inner joins are stateless in Structured
# Streaming — the static side is broadcast to every micro-batch, no
# join state accumulates; only the downstream agg keeps state. That is
# the 100 TB/day enrichment pattern. Oracle: the equivalent batch join.
_STREAM_STATIC_ORACLE = """
SELECT n_name, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events JOIN nation ON CAST(user_id % 25 AS INTEGER) = n_nationkey
GROUP BY n_name
"""


@register("streaming_stream_static_join", _STREAM_STATIC_ORACLE)
def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, schema = _events_stream_dir(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation")

    def plan(s: DataFrame) -> DataFrame:
        enriched = s.withColumn(
            "nk", (F.col("user_id") % 25).cast("int")
        ).join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
        return enriched.groupBy("n_name").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )

    return run_file_stream_batch(spark, src, schema, plan)


@register("streaming_stateful_running_counts", _STATEFUL_ORACLE)
def streaming_stateful_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import finite_measure
    from ..streaming.stateful import final_state, running_count_sum

    src, schema = _events_stream_dir(spark, sf_dir)
    keep = F.col("value").isNull() | finite_measure("value")
    return run_file_stream_batch(
        spark,
        src,
        schema,
        lambda s: running_count_sum(s.where(keep)),
        output_mode="update",
        finalize=final_state,
    )


# Streaming deduplication: watermarked dropDuplicates on the business
# key — THE ingestion-dedup primitive for an at-least-once event feed.
# State holds one entry per key and the watermark bounds its lifetime
# (keys older than the delay are evicted; a 100 TB/day feed cannot
# keep unbounded key state). Append mode emits each key's first
# occurrence; the key projection makes the emitted set deterministic,
# and the oracle is the batch DISTINCT over the same columns.
_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("streaming_dedup_keys", _STREAM_DEDUP_ORACLE)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, schema = _events_stream_dir(spark, sf_dir)

    def plan(s: DataFrame) -> DataFrame:
        return (
            s.withWatermark("ts", "7 days")
            .select("user_id", "event_type", "ts")
            .dropDuplicates(["user_id", "event_type"])
            .select("user_id", "event_type")
        )

    return run_file_stream_batch(
        spark, src, schema, plan, output_mode="append"
    )


# Streaming cardinality monitoring: per-type approximate distinct
# users over the unbounded stream. Distinct aggregates are not
# available in streaming (unbounded distinct state); the HLL++ sketch
# is the 100 TB answer — fixed-size mergeable state per key. Complete
# mode re-emits the sketch estimate; the self-check pattern (see
# approx_distinct_users_check) joins the drained result to the batch
# exact count and asserts the 2%-rsd sketch landed within 5%.
_STREAM_APPROX_DISTINCT_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, 1 AS approx_ok
FROM events GROUP BY event_type
"""


@register("streaming_approx_distinct_users", _STREAM_APPROX_DISTINCT_ORACLE)
def streaming_approx_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    src, schema = _events_stream_dir(spark, sf_dir)

    def plan(s: DataFrame) -> DataFrame:
        return s.groupBy("event_type").agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users")
        )

    streamed = run_file_stream_batch(spark, src, schema, plan)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return streamed.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        F.when(
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users"),
            1,
        )
        .otherwise(0)
        .alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# Stream-stream inner join — click→purchase attribution within 1 hour,
# both sides real streams (self-joined file stream) with per-side
# watermarks and an event-time range condition (the state-cleanup
# contract Structured Streaming requires). Inner join results emit as
# soon as both sides match, so the drained append-mode sink equals the
# equivalent batch join — which is the oracle. Output mode must be
# append: stream-stream joins do not support complete.
# ---------------------------------------------------------------------------

_SS_JOIN_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS user_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS lag_seconds
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@register("streaming_stream_stream_join", _SS_JOIN_ORACLE)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, schema = _events_stream_dir(spark, sf_dir)
    from ..streaming.windows import run_file_stream_batch

    def plan(stream):
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .withWatermark("ts", "2 hours")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id"),
                F.col("ts").alias("c_ts"),
            )
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "2 hours")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
        )
        return clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        ).select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
            .cast("long")
            .alias("lag_seconds"),
        )

    # Stream-stream joins instantiate 4 state stores PER shuffle
    # partition; run_file_stream_batch now sizes the partition count
    # from the input mirror (scoped_stream_shuffle_partitions), which
    # subsumes the former hand-pinned 8 for this one query.
    return run_file_stream_batch(
        spark, src, schema, plan, output_mode="append"
    )


# ---------------------------------------------------------------------------
# foreachBatch sink — the programmable-sink escape hatch: each
# microbatch lands in a parquet sink dir via batch-API writes (the
# pattern for upserts / multi-table fan-out / JDBC at scale). The
# query drains the stream, then aggregates what the SINK holds; since
# every event flows through exactly one batch append, the sink equals
# the source and the oracle is the plain batch aggregate.
# ---------------------------------------------------------------------------

_FOREACH_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("streaming_foreachbatch_sink", _FOREACH_ORACLE)
def streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import uuid

    src, schema = _events_stream_dir(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    parent = os.path.join(_SCRATCH, "foreachbatch_sink", tag)
    shutil.rmtree(parent, ignore_errors=True)  # drop prior runs' sinks
    sink = os.path.join(parent, uuid.uuid4().hex[:8])

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink)

    stream = spark.readStream.schema(schema).parquet(src)
    q = stream.writeStream.foreachBatch(write_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )
