"""Leakage-safe categorical feature encoding.

Out-of-fold (OOF) target encoding is the standard way to turn a
high-cardinality categorical into a numeric feature without leaking
the label: a row in fold f is encoded with the target mean computed
from every fold EXCEPT f, shrunk toward the global mean by an
additive-smoothing prior (the m-estimate of Micci-Barreca, SIGKDD
Explorations 2001).

Scale shape (the reason this is one operator and not a per-fold
loop): a single map-side-combined aggregate over the facts produces
the (category, fold) sufficient statistics — a frame whose size is
|categories| x |folds|, independent of row count.  Category totals,
the leave-one-fold-out subtraction, and the smoothing are all
arithmetic on that tiny frame, and applying the encoding to a
training set is a broadcast join of the returned table.  No per-fold
scans, no shuffle beyond the one partial-agg exchange — the same
plan at 60k rows and at 100 TB.

The reference has no feature-engineering surface (SURVEY.md §2; its
aggregates stop at AVG-per-key, reference README.md:240-330) — this
is extension scope under §7.4's training-data mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregates import ROUND_DIGITS


def target_encode_oof(
    df: DataFrame,
    category: str,
    fold: Column,
    target: str,
    *,
    smoothing: float = 10.0,
) -> DataFrame:
    """Per-(category, fold) OOF encoding table.

    Returns ``(category, fold, n_rows, target_enc)`` where
    ``target_enc = ((sum_cat - sum_cat_fold) + m * global_mean)
    / ((cnt_cat - cnt_cat_fold) + m)`` — the smoothed target mean a
    row in that (category, fold) cell would receive.  ``n_rows`` is
    the cell's row count (the weight the encoding would carry in a
    training join).

    The caller applies it with a broadcast equi-join on
    (category, fold); the table is |categories| x |folds| rows.
    """
    from ..runtime import cache_tracked

    # ONE scan of the facts: the cached (category, fold) sufficient
    # statistics feed the category totals, the global mean, and the
    # output — everything below runs on |cats| x |folds| rows
    per_cf = cache_tracked(
        df.select(F.col(category).alias("category"), fold.alias("fold"),
                  F.col(target).alias("__y"))
        .groupBy("category", "fold")
        .agg(F.sum("__y").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    per_c = per_cf.groupBy("category").agg(
        F.sum("s").alias("sc"), F.sum("n").alias("nc")
    )
    gmean = per_c.agg(
        (F.sum("sc") / F.sum("nc")).alias("gm")
    )
    m = F.lit(float(smoothing))
    return (
        per_cf.join(F.broadcast(per_c), "category")
        .crossJoin(F.broadcast(gmean))
        .select(
            "category",
            F.col("fold").cast("int").alias("fold"),
            F.col("n").alias("n_rows"),
            F.round(
                ((F.col("sc") - F.col("s")) + m * F.col("gm"))
                / ((F.col("nc") - F.col("n")) + m),
                ROUND_DIGITS,
            ).alias("target_enc"),
        )
    )
