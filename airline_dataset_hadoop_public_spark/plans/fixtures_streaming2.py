"""Streaming wave 2: the Spark 4 ``transformWithStateInPandas``
arbitrary-state API (typed ValueState handles, RocksDB-backed),
complementing the ``applyInPandasWithState`` coverage in
fixtures_streaming (SURVEY.md §2.10).

Registered in its own module so the round-2 driver verification window
(prefix of the registry) is untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register

_TWS_ORACLE = """
SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
FROM events GROUP BY user_id
"""


def _tws_available() -> bool:
    """transformWithStateInPandas speaks a protobuf protocol to its
    Python state server; this sandbox ships no `google.protobuf`, so
    the query registers only where it can actually run (the
    applyInPandasWithState coverage in fixtures_streaming carries the
    same semantics everywhere)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_tws_running_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import running_extremes_tws
    from .fixtures_streaming import _events_stream_dir
    from ..streaming.windows import run_file_stream_batch

    src, schema = _events_stream_dir(spark, sf_dir)

    def finalize(df: DataFrame) -> DataFrame:
        # update-mode sink → last emission per key (monotone in count)
        return (
            df.groupBy("user_id")
            .agg(F.max(F.struct("n_events", "max_value")).alias("__last"))
            .select("user_id", "__last.n_events", "__last.max_value")
        )

    # running_extremes_tws switches the session to the RocksDB state
    # store (the only provider the new state API supports); restore the
    # caller's provider once the query has drained so later streaming
    # fixtures keep their configured backend
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    try:
        return run_file_stream_batch(
            spark,
            src,
            schema,
            lambda s: running_extremes_tws(spark, s, "user_id", "value"),
            output_mode="update",
            finalize=finalize,
        )
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


if _tws_available():  # pragma: no cover - environment-dependent
    register("streaming_tws_running_extremes", _TWS_ORACLE)(
        streaming_tws_running_extremes
    )


# ---------------------------------------------------------------------------
# State-store introspection (Spark 4 `statestore` batch source): run a
# stateful running-count stream over the events mirror with a
# PERSISTENT checkpoint, then read the checkpoint's state store back
# as a batch DataFrame. The operational surface every production
# streaming deployment needs — "what is in my state right now" for
# debugging, auditing, and state-size capacity planning — answered
# without touching the running query. The oracle is exact: a complete
# running count's state IS the batch aggregate of everything ingested.
# Checkpoint is cached per source fingerprint (same discipline as the
# stream mirrors / LSH index): re-invocations skip the drain and only
# read state; a regenerated corpus invalidates it.
# ---------------------------------------------------------------------------

_STATE_INTROSPECTION_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
"""


def _drained_state_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    import os
    import uuid

    from ..runtime import scratch_dir, source_fingerprint, source_scratch_key
    from .fixtures_streaming import _events_stream_dir

    # ALWAYS resume-and-drain, never short-circuit on a marker: with an
    # existing checkpoint and no new files this is a no-op incremental
    # resume (the production micro-batch restart path), and starting a
    # streaming query is what registers the session's
    # StateStoreCoordinator — the `statestore` batch source cannot load
    # state in a session where no streaming query has ever run
    # (RpcEndpointNotFoundException otherwise).
    src, schema = _events_stream_dir(spark, sf_dir)
    # The checkpoint key includes the MIRROR's own identity, not just
    # the corpus fingerprint: a rebuilt mirror (deleted scratch, new
    # random part-file names) would look like unseen input to a
    # resumed file stream and double-count every event. Keying on the
    # mirror's _SUCCESS stamp orphans the old checkpoint instead.
    mirror_id = source_fingerprint(os.path.join(src, "_SUCCESS"))
    ckpt = scratch_dir(
        "state_ckpt",
        f"{source_scratch_key(sf_dir, 'events.parquet')}_{mirror_id}",
        "running_counts",
    )
    stream = spark.readStream.schema(schema).parquet(src)
    name = f"stateintro_{uuid.uuid4().hex[:12]}"
    # input-sized state partitioning (see streaming.windows) — on a
    # RESUMED checkpoint Spark pins the count recorded at first start,
    # so this only shapes newly-created checkpoints
    from ..runtime import shuffle_partitions
    from ..streaming.windows import scoped_stream_shuffle_partitions

    with shuffle_partitions(spark, scoped_stream_shuffle_partitions(spark, src)):
        q = (
            stream.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            # the memory sink is never read (state is read from the
            # checkpoint) — drop it or each invocation leaks a temp view
            spark.catalog.dropTempView(name)
    return ckpt


@register("streaming_state_introspection", _STATE_INTROSPECTION_ORACLE)
def streaming_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ckpt = _drained_state_checkpoint(spark, sf_dir)
    state = spark.read.format("statestore").option("path", ckpt).load()
    # state rows: (key struct, value struct, partition_id) — one per
    # grouping key, held by whichever shuffle partition owns the key.
    # The value struct carries the PHYSICAL aggregate name (`count`),
    # not the plan alias — state schemas outlive query cosmetics.
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n_events"),
    )
