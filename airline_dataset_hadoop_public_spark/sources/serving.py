"""Partitioned-parquet serving layer (SURVEY.md §2.1 S6/S7, §2.9 X2).

Replaces the reference's Cassandra serving tables
(/root/reference/README.md:264-274,597-615): where Cassandra keys a
table per access path (`(airport, unique_carrier)`,
`(origin, stop, dest, date)`) for CQL point lookups, we write results
`partitionBy(serving keys)` and serve a point read from the partition
directory its keys bind. `point_read` walks down from the table root
into `col=<value>` for each bound key and lists and reads only that
subtree, so a fully bound lookup touches one partition, as a Cassandra
partition read does. It reads the whole table only when the keys bind
no partition level, or when the subtree would infer a partition column
type other than string. The data columns' schema comes from the footer
of one file the walk listed, read in the driver, so a fully bound
lookup runs one Spark job: the scan. For high-cardinality join keys,
`bucketBy` into the session catalog is the analog (see
`sources.warehouse.bucketed_table`).
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType


def write_serving(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """S6: persist a query result keyed for point lookups, overwriting
    ``path``."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def _bound_subtree(spark: SparkSession, root: str, keys: dict):
    """Walk down from ``root`` through the partition levels ``keys``
    bind. Returns the deepest directory reached (None when no level is
    bound), the names of all partition columns, and the Hadoop
    ``FileStatus`` of the first-named data file in the last directory
    listed (None when it holds none).

    Each level costs one Hadoop listing, so HDFS and local paths both
    work. A ``str`` value steps into ``col=<value>``, escaped as
    ``partitionBy`` escaped it on write; a missing directory steps into
    a sibling instead, whose rows the caller's equality filter drops.
    Binding stops at the first level whose column is unbound, or bound
    to None or a non-``str``; below it the walk follows any child only
    to name the remaining columns. So the walk always ends inside the
    directory it returns, and the data file it returns lies in whatever
    the caller reads, subtree or whole table."""
    jvm = spark._jvm
    escaping = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    Path = jvm.org.apache.hadoop.fs.Path
    d = Path(root)
    fs = d.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.isDirectory(d):
        return None, [], None
    reached, cols, binding = None, [], True
    while True:
        files = {}
        for st in fs.listStatus(d):
            child = st.getPath()
            name = child.getName()
            if st.isDirectory():
                if "=" in name and not name.startswith("."):
                    break
            elif not name.startswith(("_", ".")):
                files[name] = st
        else:
            return reached, cols, files[min(files)] if files else None
        prefix = name.split("=", 1)[0]
        cols.append(escaping.unescapePathName(prefix))
        value = keys.get(cols[-1])
        binding = binding and isinstance(value, str)
        if binding:
            bound = Path(d, f"{prefix}={escaping.escapePathName(value)}")
            if fs.isDirectory(bound):
                child = bound
            else:
                binding = False
            reached = child
        d = child


# Spark's Parquet writer stores the written frame's schema as JSON
# under this footer key (ParquetReadSupport.SPARK_METADATA_KEY).
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def _merges_schemas(spark: SparkSession) -> bool:
    """Whether a Parquet read merges the schemas of all its files
    (``spark.sql.parquet.mergeSchema``; no reader here sets the
    ``mergeSchema`` option)."""
    return spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true"


def _footer_schema(spark: SparkSession, data_file, partition_cols: list[str]):
    """The data schema Spark would infer for a table holding
    ``data_file`` (a Hadoop ``FileStatus``), read from its footer in
    the driver.

    With ``mergeSchema`` off, Spark's inference reads this same footer
    key of one file, but in a one-task job; like it, this takes every
    file of the table to share one schema. Returns None, and the
    caller lets Spark infer, when there is no data file, schemas are
    merged, the footer cannot be read or holds no Spark schema (a
    non-Spark writer), the JSON does not parse, or the schema names a
    partition column: a given schema would fix that column's type,
    where inference takes it from the path."""
    if data_file is None or _merges_schemas(spark):
        return None
    jvm = spark._jvm
    skip = jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
    try:
        footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            spark._jsc.hadoopConfiguration(), data_file, skip.SKIP_ROW_GROUPS
        )
    except Py4JJavaError:
        return None
    text = footer.getFileMetaData().getKeyValueMetaData().get(_SPARK_SCHEMA_KEY)
    try:
        schema = StructType.fromJson(json.loads(text))
    except (TypeError, ValueError, KeyError):
        return None
    lowered = {c.lower() for c in partition_cols}
    if any(f.name.lower() in lowered for f in schema):
        return None
    return schema


def point_read(
    spark: SparkSession, path: str, schema=None, **key_equalities
) -> DataFrame:
    """X2: point lookup — conjunctive equality on serving keys.

    Reads only the subtree of partition directories the keys bind
    (``basePath`` stays the table root, so partition columns keep
    their place in the schema). Every equality stays a filter: those
    on partition columns show as PartitionFilters in ``.explain``,
    and they drop the rows of the sibling read for a missing key. Three
    cases read the whole table instead:

    - no key binds the outermost partition level (or the key is None
      or not a ``str``);
    - the subtree infers some partition column as other than
      ``StringType``. Spark infers each column's type from the values
      it lists, so a subtree holding only ``stop=007`` infers int 7
      where the whole table infers string "007". A string anywhere
      makes the merged type string, so a subtree that infers string
      has the whole table's type;
    - ``spark.sql.parquet.mergeSchema`` is on: the merged schema spans
      every file of the table, not only the subtree's.

    Without ``schema``, the data columns' schema is the one Spark's
    writer stored in the footer of a file the walk listed, read in the
    driver (``_footer_schema``), so a fully bound lookup runs one Spark
    job, the scan, instead of an inference job first. So ``schema`` is
    needed only for:

    - an EMPTY serving table: ``partitionBy`` of a zero-row frame
      writes no files, and inference over the bare directory raises
      where an explicit schema simply yields an empty scan;
    - files from a non-Spark writer: their footers hold no Spark
      schema, so without ``schema`` Spark infers one in a job of its
      own (as it also does when schemas are merged)."""

    def read(p: str, **options) -> DataFrame:
        reader = spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(p)

    subtree, cols, data_file = _bound_subtree(spark, path, key_equalities)
    if _merges_schemas(spark):
        subtree = None
    if schema is None:
        schema = _footer_schema(spark, data_file, cols)
    df = None if subtree is None else read(subtree.toString(), basePath=path)
    if df is None or not set(cols) <= {
        f.name for f in df.schema if isinstance(f.dataType, StringType)
    }:
        df = read(path)
    for k, v in key_equalities.items():
        df = df.filter(F.col(k) == F.lit(v))
    return df


def create_database(spark: SparkSession, name: str) -> None:
    """S7: keyspace DDL analog (README.md:63-70)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def write_text_report(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S4: the reference's part-r-00000 text sink
    (README.md:133-139) — space-delimited lines of the stringified
    columns, overwriting `path`. `single_file=True` reproduces the one-file layout via
    coalesce(1); leave False at scale (a single writer serializes the
    job — the reference's own bottleneck)."""
    out = df.select(
        F.concat_ws(" ", *[F.col(c).cast("string") for c in df.columns]).alias(
            "value"
        )
    )
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)
