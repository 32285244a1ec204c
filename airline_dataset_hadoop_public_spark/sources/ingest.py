"""CSV ingest + canonicalization (SURVEY.md §2.1 S1/S2/S3, §7.0a).

The reference's pipeline front end is: recursively unzip 240 monthly
CSVs (shell, /root/reference/README.md:94-100), then a per-job
``PrepareData`` pass that re-reads every CSV and writes one projected
``.txt`` per job (README.md:113-131), optionally limiting *which files*
are read with a ``Predicate<File>`` (README.md:128-129).

Spark-first replacement: read the CSV tree once with an explicit
schema (`recursiveFileLookup` subsumes the unzip-and-flatten layout;
`pathGlobFilter` is the file-predicate analog), canonicalize to
parquet partitioned by year — after which every per-job projection is
just `select()` (Catalyst prunes columns into the scan) and every
file-level predicate is partition pruning (`filter(Year = 2008)`
prunes directories, visible as PartitionFilters in `.explain`).

A canonical table of at most ``_ONE_PARTITION_MAX_BYTES`` is read as
one partition (`read_canonical`), so each query family over it plans
no exchange and runs in one Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .serving import point_read

# The eight BTS On-Time columns the reference consumes
# (README.md:147,171,200,449,510). DepTime stays VARCHAR: the raw data
# carries malformed "hhmm" values with hour > 23 that the leg-candidate
# repair step handles (README.md:513) — typing it here would drop them.
ONTIME_SCHEMA = T.StructType(
    [
        T.StructField("FlightDate", T.DateType()),
        T.StructField("UniqueCarrier", T.StringType()),
        T.StructField("FlightNum", T.IntegerType()),
        T.StructField("Origin", T.StringType()),
        T.StructField("Dest", T.StringType()),
        T.StructField("DepTime", T.StringType()),
        T.StructField("DepDelay", T.DoubleType()),
        T.StructField("ArrDelay", T.DoubleType()),
    ]
)


def read_ontime_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType = ONTIME_SCHEMA,
    path_glob: str | None = None,
) -> DataFrame:
    """S1/S2: schema'd recursive CSV scan. `path_glob` is the S3
    file-predicate analog (e.g. "*2008*.csv")."""
    reader = (
        spark.read.option("header", True)
        .option("recursiveFileLookup", True)
        .schema(schema)
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.csv(path)


def canonicalize(df: DataFrame, out_path: str, date_col: str = "FlightDate") -> None:
    """One-time canonicalization: typed parquet partitioned by year,
    overwriting ``out_path``. Downstream year filters become partition
    pruning (S3); columnar layout makes every per-job projection a
    pruned scan (S2)."""
    (
        df.withColumn("Year", F.year(date_col))
        .write.mode("overwrite")
        .partitionBy("Year")
        .parquet(out_path)
    )


# The largest canonical table `read_canonical` reads as one partition.
# On 4 vCPUs a pass of the seven airline families over one partition
# took less CPU and no more wall time than over the split read at
# 0.95 and 1.2 MB of Parquet (75k and 100k rows); from 1.7 MB to
# 5.7 MB (150k to 600k rows) it still took less CPU but 9-30% more
# wall time.
_ONE_PARTITION_MAX_BYTES = 1024 * 1024


def read_canonical(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read the canonical parquet table: ``serving.point_read`` with no
    key. Without ``schema``, the data columns' schema comes from one
    file's footer, read in the driver, so no inference job runs; the
    Year partition column is still inferred from the paths. Spark
    infers as before when the footer holds no Spark schema, and a
    missing or empty ``path`` raises as ``spark.read.parquet`` does.

    A table of at most ``_ONE_PARTITION_MAX_BYTES`` is read as one
    partition. A one-partition child satisfies the distribution that
    every aggregate, window and sort above it requires, so they plan no
    exchange: each airline family runs one Spark job, where a split
    read runs one job per exchange plus one. The size is the file
    index's total, summed by the listing the read already made, so no
    job runs here.

    Pass the canonical ``schema`` (source schema + the Year partition
    column) to keep the read working when the canonicalized input was
    empty — ``partitionBy`` of a zero-row frame writes no files, and
    inference over the bare directory raises."""
    df = point_read(spark, path, schema)
    size = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
    return df.coalesce(1) if size <= _ONE_PARTITION_MAX_BYTES else df
