"""SparkSession factory tuned for the engine.

Local mode is a single JVM; on a real cluster the same knobs apply per
executor. The defaults here are the 100 TB-minded ones: AQE on (runtime
partition coalescing, auto broadcast conversion, skew-join splitting),
shuffle partitions sized to cores for local runs (a cluster deployment
would size to ~2-3x total cores), Arrow enabled for the Pandas-UDF
paths, and a pinned UTC session timezone so timestamp semantics are
stable against any oracle.

JIT rule: the driver JVM starts with three of HotSpot's tier-4 (C2)
thresholds, invocation, minimum invocation and compile, at 10x their
JDK 17 defaults (`DRIVER_JAVA_OPTIONS`). Planner, analyzer and
file-listing code runs a few thousand times per query, so it stays at
C1 instead of being recompiled by C2 in every session's first minutes.
The back-edge threshold, which moves a running loop to C2, keeps its
default: in local mode this JVM is also the executor, and raising it
as well kept per-row loops at C1 for longer, which cost more than it
saved on a larger input (an `airline_batch` session over 2.4M rows
took 288 instead of 265 CPU-s, 0 of 3 pairs won). The saving is a
fixed cost per session, so it shows most in short sessions over small
inputs, which is what both perfbench workloads are: one ~1-minute
session over 50k rows, in which JIT compiles were half or more of a
lookup's CPU. Measured with perfbench on 4 vCPUs, medians of
alternating pairs: a serving lookup 0.280 -> 0.226 CPU-s and its
`setup_s` 64 -> 52 (10 pairs); `airline_batch` `setup_s` 17.2 -> 14.2,
pass CPU unchanged (4.14 -> 4.16, 6 pairs); a whole `airline_batch`
session (set-up, 3 warm-up and 5 timed passes) over 600k rows
150 -> 141 CPU-s and over 2.4M rows 268 -> 259 (3 pairs each). The
price is wall time while lukewarm code runs at C1: a median lookup
123 -> 129 ms, a timed pass over 600k rows 3.30 -> 3.42 s. Rejected:
all four thresholds at 10x (above), C1 only (`-XX:TieredStopAtLevel=1`,
a warm batch pass ~45% slower), `-XX:CICompilerCount=2` and
`-XX:+UseParallelGC` (no gain). The options are launch-time, so they
reach only sessions this factory starts: a session built elsewhere
(the external driver's) keeps its own JVM's settings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Launch-time driver JVM options (see the module docstring): three C2
# thresholds at 10x the JDK 17 defaults, the back-edge one left at its
# default. Passed as spark.driver.defaultJavaOptions, which Spark's
# launcher puts ahead of spark.driver.extraJavaOptions, so a caller's
# own options are kept. get_spark owns that conf: a site default for it
# in spark-defaults.conf is replaced, not extended (put site-wide JVM
# options in extraJavaOptions), and an extra_conf entry for it replaces
# these.
DRIVER_JAVA_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000"
)

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
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
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
