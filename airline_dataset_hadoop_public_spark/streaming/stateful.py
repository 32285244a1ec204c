"""Custom stateful streaming operators (SURVEY.md §2.10 extension):
per-key state maintained across micro-batches via
``applyInPandasWithState`` — the escape hatch for semantics the
built-in windowed aggregations can't express (running aggregates,
custom session logic, cross-batch decay models).

The reference is batch-only; this is the Structured Streaming analog
of its AvgReducer-style per-key accumulation, kept deliberately small:
state is one tuple per key, updates are Arrow-batched, and the
operator emits its state every batch (update mode), so the *final*
emission per key equals the batch ground truth — which is what the
oracle checks.

State-schema history (checkpoint compatibility): the
``running_count_sum`` state struct changed in r4 from
``(n bigint, s double)`` to ``(n bigint, m bigint, s double)`` when
the NULL-sum contract landed (SQL SUM over only NULLs is NULL, so the
non-NULL count ``m`` joined the state).  applyInPandasWithState does
NOT migrate state: a stream restarted from a checkpoint written by
the 2-field schema will fail or misread state under the 3-field code.
Harmless here (every test/bench run builds its stream and checkpoint
from scratch), but if checkpoint continuity ever matters, version the
state struct (e.g. a trailing ``v int`` field, or a new operator name
per schema) instead of editing it in place.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def running_count_sum(stream: DataFrame) -> DataFrame:
    """Per-key running (count, sum) over an unbounded stream.

    Output per batch: one row per key seen in the batch with the
    cumulative count and sum so far. NoTimeout: state lives for the
    stream's lifetime (bound it with a timeout in production if the
    key domain is unbounded).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (k,) = key
        n, m, s = state.get if state.exists else (0, 0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            # pandas' skipna default matches SQL SUM's NULL-skipping
            # (NULLs arrive as NaN in the float64 Arrow batch) — but
            # it ALSO skips genuine NaN, which SQL SUM propagates.
            # The Arrow path cannot tell the two apart, so callers
            # must filter non-finite values upstream (FIXTURES.md §K;
            # the registered fixture does). `m` tracks non-NULL
            # contributions: SQL SUM over ONLY NULLs is NULL, not 0.
            vals = pdf["value"]
            m += int(vals.notna().sum())
            s += float(vals.sum())
        state.update((n, m, s))
        yield pd.DataFrame(
            {
                "user_id": [k],
                "n_events": [n],
                "sum_value": [round(s, 4) if m else None],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, m bigint, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def final_state(df: DataFrame) -> DataFrame:
    """Reduce an update-mode sink to each key's LAST emission (running
    aggregates are monotone in count, so the max-count row per key is
    the final state — which equals the batch ground truth)."""
    from pyspark.sql import functions as F

    return (
        df.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("__last"))
        .select("user_id", "__last.n_events", "__last.sum_value")
    )


def running_extremes_tws(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """Per-key running (count, max) via ``transformWithStateInPandas``
    — the Spark 4 arbitrary-state API (typed state handles, timers,
    RocksDB-backed). Same contract as ``running_count_sum``: update
    mode, one emission per key per batch, so the final emission equals
    the batch ground truth.

    Requires the RocksDB state-store provider (the only provider
    supporting the new state API); the caller's session is configured
    here — Spark captures it when the streaming query starts.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, DoubleType, StructField, StructType

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    state_schema = StructType(
        [StructField("n", LongType()), StructField("mx", DoubleType())]
    )

    class Extremes(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("st", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, mx = (
                self._st.get() if self._st.exists() else (0, float("-inf"))
            )
            for pdf in rows:
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            self._st.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Extremes(),
        outputStructType="user_id bigint, n_events bigint, max_value double",
        outputMode="Update",
        timeMode="None",
    )
