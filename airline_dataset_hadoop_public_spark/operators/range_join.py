"""Temporal joins — bucketed range join and as-of join. Both are absent
from the reference (SURVEY.md §2.5 "not present: range/as-of/interval
joins") and exposed as engine extensions because validity-window
enrichment and latest-preceding-state lookup are staples of event
pipelines.

A naive `ts BETWEEN start AND end` join compiles to a nested-loop
(every point × every interval). The scalable layout discretizes time
into fixed buckets: a point hits exactly one bucket, an interval is
exploded over the buckets it covers, and the join becomes an EQUI join
on (equi_keys…, bucket) followed by a residual range filter. Cost =
|points| + Σ interval_len/bucket — linear, shuffle-partitioned, and
AQE-skew-splittable, at the price of interval_len/bucket replica rows
per interval (size `bucket_seconds` to the typical interval length).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    equi_keys: Sequence[str] = (),
    bucket_seconds: int = 86_400,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row with
    `start <= ts <= end` (and equal `equi_keys`, if given).

    Output: points columns + intervals columns (minus duplicated equi
    keys). Both inputs must not share other column names.
    """
    b = F.lit(bucket_seconds)
    p = points.withColumn(
        "__b", F.floor(F.unix_timestamp(F.col("ts")) / b).cast("long")
    ).alias("__pt")
    i = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / b).cast("long"),
                F.floor(F.unix_timestamp(F.col(end_col)) / b).cast("long"),
            )
        ),
    ).alias("__iv")
    # The range residual is PART of the join condition, not a
    # post-filter: a post-filter evaluates NULL on an unmatched outer
    # row's NULL start/end and silently drops it — 'left' would
    # degrade to inner semantics.
    cond = (
        (F.col("__pt.ts") >= F.col(f"__iv.{start_col}"))
        & (F.col("__pt.ts") <= F.col(f"__iv.{end_col}"))
        & (F.col("__pt.__b") == F.col("__iv.__b"))
    )
    for k in equi_keys:
        cond = cond & (F.col(f"__pt.{k}") == F.col(f"__iv.{k}"))
    iv_cols = [
        c for c in intervals.columns if c not in equi_keys
    ]
    joined = p.join(i, cond, how).select(
        *[F.col(f"__pt.{c}") for c in points.columns],
        *[F.col(f"__iv.{c}") for c in iv_cols],
    )
    return joined


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    id_col: str,
) -> DataFrame:
    """Inner as-of join: each left row gains the `payload` of the
    LATEST right row with equal `keys` and right_ts <= left_ts
    (equality matches; left rows with no preceding right row drop).

    Shuffle-once layout: union both sides tagged, one window per key in
    time order (right rows sort before left at equal timestamps),
    `last(payload, ignorenulls)` carries the most recent right state
    forward, then keep the left rows. No join explosion, no per-row
    probing — the standard distributed as-of pattern. Right rows must
    be unique per (keys, right_ts); pre-aggregate otherwise.

    Output: all left columns + payload columns.
    """
    from pyspark.sql import Window

    # SQL equi-join semantics for the keys: a NULL key never matches.
    # Without this, the union+window layout would group NULL-keyed
    # rows of both sides into one partition and "match" them (Spark
    # partitionBy puts all NULLs in one group) — diverging from what
    # the same query written as an ASOF/LATERAL join returns.
    for k in keys:
        left = left.where(F.col(k).isNotNull())
        right = right.where(F.col(k).isNotNull())
    # Same for the timestamps: `left_ts >= right_ts` is never true in
    # SQL when either side is NULL, but in the window layout a NULL
    # right_ts would sort FIRST (Spark NULLS FIRST asc) and its
    # payload would be carried into every later left row, and a NULL
    # left_ts row would likewise land somewhere in the sort order.
    left = left.where(F.col(left_ts).isNotNull())
    right = right.where(F.col(right_ts).isNotNull())

    # ALL payload columns ride in ONE struct: filling them
    # independently with last(ignorenulls) would mix fields from
    # DIFFERENT right rows whenever a payload column is NULL (and an
    # all-NULL first payload column would mis-drop the row on the
    # inner filter). The struct is non-null exactly when a right row
    # exists, and carries that row's fields verbatim, NULLs included.
    l = left.select(
        F.col(id_col).alias("__id"),
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None)
        .cast(
            # programmatic StructType, not a DDL string: payload names
            # needing quoting (spaces, dots, hyphens) stay intact
            StructType(
                [StructField(c, right.schema[c].dataType) for c in payload]
            )
        )
        .alias("__p"),
    )
    r = right.select(
        F.lit(None).cast(left.schema[id_col].dataType).alias("__id"),
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in payload]).alias("__p"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        l.unionByName(r)
        .select(
            "__id",
            "__side",
            F.last("__p", ignorenulls=True).over(w).alias("__p"),
        )
        .filter(F.col("__side") == 1)
        # inner semantics: left rows before any right row have no state
        .filter(F.col("__p").isNotNull())
        .select("__id", *[F.col(f"__p.{c}").alias(c) for c in payload])
    )
    return left.join(
        filled.withColumnRenamed("__id", id_col), id_col, "inner"
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    equi_keys: Sequence[str] = (),
    bucket_seconds: int = 86_400,
) -> DataFrame:
    """Inner interval x interval overlap join: every (left, right) row
    pair whose CLOSED intervals intersect — ``l_start <= r_end AND
    r_start <= l_end`` (and equal `equi_keys`, if given). The third
    temporal-join shape next to point-in-interval and as-of; absent
    from the reference (SURVEY.md §2.5) and from Spark's builtin join
    menu, which compiles the raw inequality predicate to a
    nested-loop cartesian.

    Scale layout (same discretization as `point_in_interval_join`):
    both sides explode over the fixed time buckets they cover, the
    join becomes an EQUI join on (equi_keys..., bucket) + the overlap
    residual, and each qualifying pair is kept exactly once WITHOUT a
    `distinct` — a pair overlapping across many shared buckets is
    attributed to the single canonical bucket containing
    ``greatest(l_start, r_start)`` (the overlap's first instant, which
    by definition lies inside both intervals, hence inside both
    explosion ranges). Cost is linear in Σ interval_len/bucket with no
    post-shuffle dedup state; skewed hot buckets split under AQE.

    NULL contract: a row with a NULL endpoint or NULL equi key never
    matches (SQL comparison semantics — the residual predicate is part
    of the join condition, and NULL buckets explode to nothing).

    Output: all left columns, then right columns not in `equi_keys`.
    Column names must not otherwise collide, and `__b` is reserved
    for the internal bucket column (enforced — a caller's `__b`
    would be silently overwritten and replicated per covered bucket).
    """
    for side, cols in (("left", left.columns), ("right", right.columns)):
        if "__b" in cols:
            raise ValueError(
                f"interval_overlap_join: {side} input must not have a "
                "column named '__b' (reserved for the bucket key)"
            )
    b = F.lit(bucket_seconds)

    def bucketed(df: DataFrame, start: str, end: str) -> DataFrame:
        return df.withColumn(
            "__b",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(F.col(start)) / b).cast("long"),
                    F.floor(F.unix_timestamp(F.col(end)) / b).cast("long"),
                )
            ),
        )

    l = bucketed(left, l_start, l_end).alias("__l")
    r = bucketed(right, r_start, r_end).alias("__r")
    overlap_start = F.greatest(
        F.col(f"__l.{l_start}"), F.col(f"__r.{r_start}")
    )
    cond = (
        (F.col("__l.__b") == F.col("__r.__b"))
        & (F.col(f"__l.{l_start}") <= F.col(f"__r.{r_end}"))
        & (F.col(f"__r.{r_start}") <= F.col(f"__l.{l_end}"))
        # canonical-bucket guard: emit the pair only from the bucket
        # holding the first overlapping instant
        & (
            F.col("__l.__b")
            == F.floor(F.unix_timestamp(overlap_start) / b).cast("long")
        )
    )
    for k in equi_keys:
        cond = cond & (F.col(f"__l.{k}") == F.col(f"__r.{k}"))
    r_cols = [c for c in right.columns if c not in equi_keys]
    return l.join(r, cond, "inner").select(
        *[F.col(f"__l.{c}") for c in left.columns],
        *[F.col(f"__r.{c}") for c in r_cols],
    )
