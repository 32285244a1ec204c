"""SparkSession factory tuned for the engine.

Local mode is a single JVM; on a real cluster the same knobs apply per
executor. The defaults here are the 100 TB-minded ones: AQE on (runtime
partition coalescing, auto broadcast conversion, skew-join splitting),
shuffle partitions sized to cores for local runs (a cluster deployment
would size to ~2-3x total cores), Arrow enabled for the Pandas-UDF
paths, and a pinned UTC session timezone so timestamp semantics are
stable against any oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable engine defaults: get_spark bakes them into a new
# session, apply_engine_conf sets them on a session built elsewhere.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Parquet naive timestamps read as TIMESTAMP (LTZ, pinned-UTC
    # session) rather than TIMESTAMP_NTZ so epoch arithmetic and the
    # ANSI-SQL oracles share one timestamp algebra.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(
    app_name: str = "airline-spark-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else to the cores this
    process may run on. ``driver_memory`` defaults to half the host's
    physical memory, at most 16g: in local mode the driver JVM is the
    whole engine, and the rest is left to its Python workers and the
    OS."""
    if driver_memory is None:
        mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        driver_memory = f"{min(mem_mb // 2, 16 * 1024)}m"
    if cpus is None:
        cpus = int(
            os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        )
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the driver hands us its own SparkSession)."""
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static/locked conf on this session — keep going
    return spark
