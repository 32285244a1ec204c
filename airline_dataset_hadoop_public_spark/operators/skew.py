"""Skew mitigation for hot join keys (SURVEY.md §7.4 scale notes).

First-line defense is AQE (`spark.sql.adaptive.skewJoin`, enabled by
the session factory), which splits oversized sort-merge partitions at
runtime. Manual salting remains the tool for the cases AQE can't fix:
a hash aggregation or shuffled join where one key's build side alone
exceeds an executor (the classic viral-document / null-key hotspot at
100 TB).

``salted_join`` replicates the *small* side across `n_salt` shards and
scatters the skewed side's rows uniformly among them, turning one hot
partition into `n_salt` even ones. The salt is `rand(42)`-based:
correctness does not depend on which shard a row lands in (each shard
holds a full copy of the matching small-side rows), so the join result
is exactly the plain join's. Cost: the small side is materialized
`n_salt`× — size it like a broadcast-threshold decision.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the skewed side salted across `n_salt` shards.

    `on` must be equi-join column names present on both sides. Output
    columns match `skewed.join(small, on, how)`.
    """
    if n_salt < 1:
        raise ValueError("n_salt must be >= 1")
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti"):
        # right/full would emit each unmatched small-side row once PER
        # SALT REPLICA — not the plain join's output. Salting the
        # other way around (replicate skewed, salt small) is the shape
        # for those; reject rather than silently diverge.
        raise ValueError(
            f"salted_join supports inner/left-family joins only, got {how!r}"
        )
    left = skewed.withColumn(
        "__salt", F.floor(F.rand(42) * n_salt).cast("int")
    )
    right = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return left.join(right, [*on, "__salt"], how).drop("__salt")
