"""Aggregation operators (SURVEY.md §2.3, A1-A6).

Reference mapping (all citations are to /root/reference/README.md —
the reference's only public artifact; class names are those the README
itself documents):

- ``explode_count``   ≙ ArrivalsAndDeparturesPerAirport mapper+reducer
  (README.md:147-149): each row emits its Origin AND Dest with count 1,
  reducer sums per airport. Here: `explode(array(...))` + `groupBy.count`
  — Spark performs map-side partial aggregation before the shuffle,
  which the reference's combiner-less MapReduce job never did.
- ``avg_by_key``      ≙ AvgReducer (README.md:193) reused by
  AvgDelayPerAirline (README.md:171-174), AvgDepDelayPerAirportCarrier
  (README.md:200-203), AvgDepDelayPerAirportDest (README.md:288-289),
  AvgArrDelayPerAirportPairCarrier (README.md:335). Composite string
  keys ("ORIGIN CARRIER") become real multi-column group keys — no key
  mangling, and the shuffle hashes the tuple.
- ``distinct_union``  ≙ Airports job (README.md:447-452): distinct set
  of values appearing in either of two columns.

Scale notes (100 TB): these are single-shuffle hash aggregations with
map-side combine; output cardinality is the group-key domain (airports,
carriers — small), so the final exchange is tiny. No driver-side state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Decimal places of every float an operator emits: its oracles ROUND
# to the same width, so results hash-compare equal (SURVEY.md §5.2).
ROUND_DIGITS = 4


def union_all_column(df: DataFrame, cols: Sequence[str], out: str) -> DataFrame:
    """SELECT c1 AS out FROM df UNION ALL SELECT c2 AS out FROM df ...

    Expressed as `explode(array(...))` — one scan of the input instead
    of one per column (the reference's mapper emits N records per row
    for the same effect, README.md:148). Columns must share a type.
    """
    return df.select(F.explode(F.array(*[F.col(c) for c in cols])).alias(out))


def explode_count(
    df: DataFrame, cols: Sequence[str], key: str = "key", cnt: str = "cnt"
) -> DataFrame:
    """Count, per value, of appearances in any of `cols` (A1)."""
    return (
        union_all_column(df, cols, key)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias(cnt))
    )


def avg_by_key(
    df: DataFrame, keys: Sequence[str], value: str | Column, out: str
) -> DataFrame:
    """Mean of `value` per multi-column key (A2/A4/A5), as
    `round(avg, ROUND_DIGITS)` for oracle-stable float comparison (SURVEY.md §5.2).

    Nulls in `value` are excluded by `avg` exactly as the reference's
    cleaning drops malformed rows per-job (README.md:111-112).
    """
    col = F.col(value) if isinstance(value, str) else value
    return df.groupBy(*keys).agg(F.round(F.avg(col), ROUND_DIGITS).alias(out))


def distinct_union(df: DataFrame, cols: Sequence[str], out: str) -> DataFrame:
    """Distinct values appearing in any of `cols` (A6)."""
    return union_all_column(df, cols, out).distinct()
