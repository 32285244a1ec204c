"""Structured Streaming surface (SURVEY.md §2.10 / §7.4).

The reference is batch-only; this module exposes its aggregation
semantics over unbounded input: tumbling/sliding event-time windows
with watermarked late-data handling, reusing the same built-in
aggregates as the batch operators (one logical plan family for both).

``run_file_stream_batch`` drives a file-source stream to completion
synchronously (memory sink + processAllAvailable) so batch tests and
the driver's oracle gate can treat a streaming computation as a
DataFrame-producing query. In production the same `windowed_agg` plan
runs against kafka/files with a real trigger; only the source/sink
bindings change.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import ROUND_DIGITS
from ..runtime import shuffle_partitions

# Scale-adaptive state partitioning (optimization guide §2): a
# stateful streaming query instantiates one state-store instance per
# shuffle partition PER stateful operator, and every micro-batch pays
# a per-instance commit (snapshot/delta write + fsync) regardless of
# how few rows the instance holds. With the session default sized to
# cores (32 locally), the sf0.1 session-window drain spent 58 summed
# seconds in state commits for 57k state rows (~1.8k rows per store —
# pure per-instance overhead). Deriving the partition count from the
# input size keeps small streams on few stores while large inputs
# grow back to the session default (the count is pinned into the
# checkpoint on first start, so an existing checkpoint keeps its
# layout on resume).
_STREAM_ADVISORY_BYTES = 32 * 1024 * 1024


def scoped_stream_shuffle_partitions(spark: SparkSession, src_dir: str) -> int:
    """Shuffle-partition count for a file-source streaming drain:
    ceil(input bytes / advisory), clamped to [1, session default]."""
    nbytes = 0
    for root, _dirs, files in os.walk(src_dir):
        for f in files:
            if not f.startswith(("_", ".")):
                try:
                    nbytes += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if nbytes == 0:
        # os.walk sees nothing for a non-local URI (hdfs://, s3:// —
        # which readStream itself accepts) or a missing/empty mirror;
        # fall back to the session default rather than pinning every
        # stateful drain to ONE state store (r10 ADVICE / VERDICT
        # item 5). Local mirrors — the only paths the fixtures pass —
        # always have bytes, so their sizing is unchanged.
        return cur
    return max(1, min(cur, -(-nbytes // _STREAM_ADVISORY_BYTES)))


def windowed_agg(
    stream: DataFrame,
    ts_col: str,
    window: str,
    keys: list[str],
    watermark: str | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding, if `slide` given) event-time window
    counts+sums per key. Watermark bounds state retention — required
    for append-mode sinks; harmless under complete mode."""
    src = stream.withWatermark(ts_col, watermark) if watermark else stream
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        src.groupBy(win.alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), ROUND_DIGITS).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *keys,
            "n",
            "sum_value",
        )
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based session windows per key (count + sum), via Spark's
    native ``session_window``: events whose [ts, ts+gap) windows chain
    transitively merge into one session; a new session starts exactly
    when the gap to the previous event is ≥ `gap`. Works identically
    on batch and streaming input (watermark required for streaming
    state eviction)."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), ROUND_DIGITS).alias("sum_value"))
        .select(
            *keys,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n",
            "sum_value",
        )
    )


def run_file_stream_batch(
    spark: SparkSession,
    src_dir: str,
    schema,
    build_plan,
    output_mode: str = "complete",
    finalize=None,
) -> DataFrame:
    """Read a parquet directory as a stream, apply `build_plan(stream)`,
    drain it into a memory sink, and return the final result table.

    Complete output mode emits every window regardless of watermark
    position, which makes the result equal to the equivalent batch
    aggregation — that equivalence is exactly what the oracle checks.
    `finalize(df)` post-processes the sink table (e.g. reduce an
    update-mode sink to each key's last emission).
    """
    name = f"stream_{uuid.uuid4().hex[:12]}"
    stream = spark.readStream.schema(schema).parquet(src_dir)
    # input-sized state partitioning; the conf is read once at query
    # start (it is pinned into the checkpoint metadata), and the drain
    # is synchronous, so restoring after the drain cannot affect it
    with shuffle_partitions(spark, scoped_stream_shuffle_partitions(spark, src_dir)):
        q = (
            build_plan(stream)
            .writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    out = spark.table(name)
    return finalize(out) if finalize else out
