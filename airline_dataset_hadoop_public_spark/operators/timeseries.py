"""Time-series operators: fixed-interval spine generation, gap-filling
and forward-fill, plus per-key sequential folds (EWMA, Holt smoothing,
clamped running balance) that run as one streamed pass per key.

The reference (/root/reference/README.md) has no time-series surface —
its only temporal logic is per-day equi-keys in the G3Q2 join
(README.md:542-543). A production event pipeline needs regularized
series (monitoring rollups, feature windows for training data), so
these are extension operators per SURVEY.md §7.4.

Scale design (100 TB):
- The spine is calendar-bounded: |buckets| = time-range / interval,
  independent of fact cardinality — a month of 15-minute buckets is
  ~2.9k rows, a decade ~350k. Always broadcastable.
- The per-bucket aggregate output is at most |keys| x |buckets| rows,
  also calendar-bounded for low-cardinality keys; the only fact-sized
  work is the groupBy, which hash-partitions on (key, bucket) with
  map-side partial aggregation.
- The forward-fill window partitions by key over the calendar-bounded
  frame — never over raw facts.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucket_start(ts: Column, seconds: int) -> Column:
    """Epoch-aligned bucket start (same alignment as DuckDB's
    time_bucket and Spark's window() — multiples of `seconds` since
    1970-01-01 00:00:00 UTC)."""
    return F.timestamp_seconds(
        F.floor(F.unix_timestamp(ts) / seconds).cast("long") * seconds
    )


def time_spine(df: DataFrame, ts_col: str, seconds: int) -> DataFrame:
    """One row per `seconds`-wide bucket covering [min(ts), max(ts)].

    Single-row aggregate then sequence+explode — the spine never
    touches the driver and is tiny by construction.
    """
    return (
        df.agg(
            bucket_start(F.min(ts_col), seconds).alias("t0"),
            bucket_start(F.max(ts_col), seconds).alias("t1"),
        )
        .select(
            F.explode(
                F.sequence(
                    F.col("t0"),
                    F.col("t1"),
                    F.expr(f"INTERVAL {seconds} SECONDS"),
                )
            ).alias("bucket")
        )
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    seconds: int,
    sum_round: int | None = None,
) -> DataFrame:
    """Regularize an event stream to a fixed grid per key.

    Output: (key, bucket, n_obs, avg_value_ffill) — one row per
    (key, bucket) on the full grid; empty buckets get n_obs = 0 and
    the forward-filled running average (null before the first
    observation of that key).

    ``sum_round``: when set, the bucket average is computed as
    ROUND(SUM(value), sum_round) / COUNT — for fixed-decimal inputs
    (e.g. 2-decimal amounts with sum_round=2) the quantized sum is
    engine-order-independent, so the average is bit-identical across
    engines. Plain AVG parks k-decimal data exactly on rounding
    boundaries (sum/2^k effects), where per-engine summation-order
    ulp noise flips a downstream ROUND — 63 of 14.4k rows at sf0.1.
    """
    if sum_round is None:
        avg_expr = F.avg(value_col)
    else:
        avg_expr = F.round(F.sum(value_col), sum_round) / F.count(F.lit(1))
    agg = df.groupBy(
        F.col(key_col).alias("key"),
        bucket_start(F.col(ts_col), seconds).alias("bucket"),
    ).agg(
        F.count("*").alias("n_obs"),
        avg_expr.alias("avg_value"),
    )
    grid = (
        df.select(F.col(key_col).alias("key"))
        .distinct()
        .crossJoin(F.broadcast(time_spine(df, ts_col, seconds)))
    )
    w = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(agg, ["key", "bucket"], "left")
        .select(
            "key",
            "bucket",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_ffill"),
        )
    )


def ewma_per_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Per-key exponentially-weighted moving average (column
    ``ewma``), exact recurrence y_t = alpha*x_t + (1-alpha)*y_{t-1}
    (y_0 = x_0), ordered by (ts, value). A window function cannot express the recurrence
    without exponentially-scaled weights that overflow on long series.

    Runs as a sorted-stream fold with the accumulator carried across
    Arrow batches (`_streamed_fold`): one shuffle on the key, peak
    memory one batch regardless of key length.
    """

    def ewma_chunk(x: np.ndarray, st):
        y = np.empty_like(x)
        acc = 0.0 if st is None else st
        first = st is None
        for i, v in enumerate(x):
            if first and i == 0:
                acc = v
            else:
                acc = alpha * v + (1.0 - alpha) * acc
            y[i] = acc
        return {"ewma": y}, acc

    return _streamed_fold(df, key_col, ts_col, value_col, ewma_chunk, ["ewma"])


def holt_per_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Holt double exponential smoothing (level + trend),
    exact recurrence with alpha = beta = 0.5:

        l_0 = x_0, b_0 = 0
        l_t = 0.5·x_t + 0.5·(l_{t-1} + b_{t-1})
        b_t = 0.5·(l_t − l_{t-1}) + 0.5·b_{t-1}

    Both smoothing products are exact halvings, so every fold step is
    a fixed sequence of identically-rounded IEEE adds and any engine
    folding in the same order gets the same bits.

    Output adds (level, trend) columns; rows ordered within key by
    (ts, value). Runs as `_streamed_fold`, carrying the (level, trend)
    pair across Arrow batches: one shuffle on the key, bounded memory
    for hot keys.
    """

    def holt_chunk(x: np.ndarray, st):
        lv = np.empty_like(x)
        tr = np.empty_like(x)
        if st is None:
            l, b = x[0], 0.0
            lv[0], tr[0] = l, b
            start = 1
        else:
            l, b = st
            start = 0
        for i in range(start, len(x)):
            prev = l + b
            l_new = 0.5 * x[i] + 0.5 * prev
            b = 0.5 * (l_new - l) + 0.5 * b
            l = l_new
            lv[i], tr[i] = l, b
        return {"level": lv, "trend": tr}, (l, b)

    return _streamed_fold(
        df, key_col, ts_col, value_col, holt_chunk, ["level", "trend"]
    )


def clamped_running_balance(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    delta_col: str,
    hi: float = 100.0,
    out: str = "balance",
) -> DataFrame:
    """Per-key two-sided-clamped running balance, ordered by
    (ts, delta):  b_t = min(hi, max(0, b_{t-1} + delta_t)),  b_{-1}=0.

    The inventory / quota / token-bucket walk. Unlike the one-sided
    Lindley recursion (CUSUM's prefix-reflection identity,
    fixtures_timeseries.py) a TWO-sided barrier has no prefix-scan
    closed form — each step's clamp depends on which barrier was hit
    last — so this is the honest tier-(b) operator per the build
    rules: built-ins genuinely can't express it. The sequential fold
    runs as `_streamed_fold` over the key-sorted row stream with the
    balance carried across Arrow batches — a single shuffle,
    per-key-linear work, partition-parallel across keys, peak memory
    one batch, hot keys of any length safe.

    Determinism contract: the (ts, delta) sort is total up to ties of
    identical (ts, delta) pairs, and swapping two identical steps
    leaves the balance SEQUENCE unchanged, so outputs are
    well-defined; the emitted ``step`` column (0-based walk position)
    is the only safe way to address "the final balance" — selecting
    by max (ts, delta) instead would pick an arbitrary member of a
    tied group, whose balances differ even though the rows don't;
    the walk itself is the same IEEE add/min/max sequence in any
    engine that orders the same way (the DuckDB oracle's recursive
    CTE reproduces it bit-exactly). NULL key/ts/delta rows must be
    dropped by the caller (FIXTURES.md §J).
    """

    def clamp_chunk(x: np.ndarray, st):
        acc = 0.0 if st is None else st
        y = np.empty_like(x)
        for i, v in enumerate(x):
            acc = acc + v
            if acc < 0.0:
                acc = 0.0
            elif acc > hi:
                acc = hi
            y[i] = acc
        return {out: y}, acc

    return _streamed_fold(
        df, key_col, ts_col, delta_col, clamp_chunk, [out], with_step=True
    )


# ---------------------------------------------------------------------------
# Streamed (bounded-memory) sequential folds.
#
# Collecting each key's series into one array row would make a
# pathological key (one user with 1e9 events at 100 TB) a single
# task's OOM: Arrow's maxRecordsPerBatch caps ROWS, not array cells,
# so one giant array cell rides one batch no matter the cap. The
# streamed shape has no such bound:
#
#   repartition(key)                      -- one shuffle
#   sortWithinPartitions(key, ts, x)      -- key runs become contiguous
#   mapInPandas(fold)                     -- iterate Arrow batches IN
#                                            PARTITION ORDER, carrying
#                                            (key, fold state, step) across
#                                            batch boundaries
#
# Peak memory is one Arrow batch (spark.sql.execution.arrow.
# maxRecordsPerBatch rows) regardless of how long any key's series
# is. The carried state is exactly the accumulator a one-pass loop
# over the key's whole series would hold at the same position, so the
# output equals a plain sequential replay bit for bit, whatever the
# batch cap (pytest-pinned in tests/test_r7_ops.py, including a
# 1e6-event single key under a 10k-row Arrow batch cap).
# ---------------------------------------------------------------------------


def _streamed_fold(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    x_col: str,
    fold_chunk,
    out_fields: list[str],
    with_step: bool = False,
):
    """Per-key ordered fold with bounded memory (see section comment).

    ``fold_chunk(x: np.float64[n], state) -> (dict[name -> np.float64[n]],
    new_state)`` folds one contiguous chunk of a single key's series;
    ``state=None`` marks start-of-key. ``with_step`` adds the 0-based
    walk position as a ``step`` column after the key.
    """
    in_schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    parts = [f"{key_col} {in_schema[key_col]}"]
    if with_step:
        parts.append("step long")
    parts.append(f"{ts_col} {in_schema[ts_col]}")
    parts.append(f"{x_col} double")
    parts.extend(f"{name} double" for name in out_fields)
    schema = ", ".join(parts)

    def run(batches):
        cur_key = None
        cur_null = False
        state = None
        base = 0
        have_key = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            k = pdf[key_col].to_numpy()
            # SQL GROUP BY puts every NULL key in ONE group (and the
            # repartition/sort upstream co-locates them contiguously,
            # NULLS FIRST), so key comparisons must be null-SAFE:
            # NaN != NaN / None != None would restart the fold state
            # on every null-key row (caught by the NULL-injection
            # adversarial axis).
            kn = pdf[key_col].isna().to_numpy()
            x = pdf[x_col].to_numpy(dtype=np.float64)
            with np.errstate(invalid="ignore"):
                neq = k[1:] != k[:-1]
            neq = (neq & ~(kn[1:] & kn[:-1])) | (kn[1:] ^ kn[:-1])
            change = np.nonzero(neq)[0] + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(k)]))
            outs = {name: np.empty(len(k)) for name in out_fields}
            steps = np.empty(len(k), dtype=np.int64) if with_step else None
            for s, e in zip(starts, ends):
                same = have_key and (
                    (kn[s] and cur_null)
                    or (not kn[s] and not cur_null and k[s] == cur_key)
                )
                st, b0 = (state, base) if same else (None, 0)
                chunk_out, st = fold_chunk(x[s:e], st)
                for name in out_fields:
                    outs[name][s:e] = chunk_out[name]
                if with_step:
                    steps[s:e] = b0 + np.arange(e - s, dtype=np.int64)
                cur_key, cur_null, state = k[s], bool(kn[s]), st
                base, have_key = b0 + (e - s), True
            res = pdf[[key_col, ts_col, x_col]].copy()
            res[x_col] = x
            if with_step:
                res.insert(1, "step", steps)
            for name in out_fields:
                res[name] = outs[name]
            yield res

    return (
        df.select(key_col, ts_col, x_col)
        .repartition(key_col)
        .sortWithinPartitions(key_col, ts_col, x_col)
        .mapInPandas(run, schema=schema)
    )
