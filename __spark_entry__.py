"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``airline_dataset_hadoop_public_spark``;
this module only adapts it to the driver's calling convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from airline_dataset_hadoop_public_spark.plans import registry as _registry
from airline_dataset_hadoop_public_spark.session import apply_engine_conf


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (G1Q1 top-10 popularity analog) on sf0.001."""
    apply_engine_conf(spark)
    from airline_dataset_hadoop_public_spark.plans.fixtures_parity import (
        g1q1_top10_popularity,
    )

    return g1q1_top10_popularity(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ §7.4)."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_engine_conf(spark)
            # Free the previous query's plan-internal caches so a full
            # registry run pins at most one query's worth of storage.
            from airline_dataset_hadoop_public_spark.runtime import release_caches

            release_caches()
            return fn(spark, sf_dir)

        run.__name__ = fn.__name__
        return run

    return {name: wrap(fn) for name, fn in _registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for every query, keyed like
    ``queries()``."""
    return _registry.oracle_sql()
