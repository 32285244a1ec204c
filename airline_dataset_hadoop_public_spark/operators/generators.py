"""Row generators (SURVEY.md §2.5 J3/J4).

- ``permutation_triplets`` ≙ OriginStopDest
  (/root/reference/README.md:458-483): all (origin, stop, dest)
  permutations of the airport set with stop ≠ origin and stop ≠ dest,
  which the reference produces with the combinatorics3 library and
  parallel stream writes. Here it is a double cross join + theta
  filter — executed partitioned, and since the airport list is tiny
  both join sides are broadcast.
- ``date_series`` ≙ Requests date expansion (README.md:487-498):
  366 days of 2008 crossed with each triplet. `sequence()` +
  `explode()` generates the dates engine-side.

Scale: |codes|³ explodes combinatorially (the reference capped request
generation during dev, README.md:500 — our T5 analog is a caller's
`.limit(n)` on the frame `plans/airline.requests` returns). Generation
is lazy/distributed; nothing is driver-materialized.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def permutation_triplets(codes: DataFrame, col: str) -> DataFrame:
    """(origin, stop, dest) with stop ≠ origin ∧ stop ≠ dest.

    Note origin == dest is allowed, matching the reference's constraint
    set (README.md:465 constrains only the stop column).
    """
    a = codes.select(F.col(col).alias("origin"))
    b = codes.select(F.col(col).alias("stop"))
    c = codes.select(F.col(col).alias("dest"))
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c))
        .filter((F.col("stop") != F.col("origin")) & (F.col("stop") != F.col("dest")))
    )


def date_series(
    spark: SparkSession, start: dt.date | str, end: dt.date | str, out: str = "date"
) -> DataFrame:
    """One row per day in [start, end] (inclusive both ends)."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(str(start)).cast("date"), F.lit(str(end)).cast("date")
            )
        ).alias(out)
    )
