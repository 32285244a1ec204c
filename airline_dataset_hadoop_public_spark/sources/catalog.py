"""Fixture-table catalog over the driver's parquet corpus.

Replaces the reference's per-job ``PrepareData`` cleaning step
(reference README.md:113-131): where the reference iterates 240 CSVs
and materializes a projected ``.txt`` per job, we read columnar parquet
and let Catalyst prune columns/predicates into the scan — the manual
projection step disappears (SURVEY.md §2.1 S2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The fixture parquet stores TIMESTAMP(NANOS) which Spark's vectorized
# reader rejects; we read nanos as int64 and truncate to microsecond
# timestamps (identical to DuckDB's nanos→micros truncation, so oracle
# comparisons stay exact).
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
    "events": ("ts",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table: {name}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANO_TS_COLS.get(name, ()):
        if c not in df.columns:  # projected test fixtures may omit it
            continue
        field = df.schema[c]
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"CAST({c} DIV 1000 AS LONG)"))
            )
    return df

