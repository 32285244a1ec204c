"""`point_read` reads only the partition directory its keys bind.

Every lookup shape must answer exactly as the whole-table read
(``spark.read.parquet(root)`` plus the same equality filters) does,
rows and schema both, whichever path `point_read` takes: the bound
subtree, a sibling for a missing key, or the whole-table fallback.
"""

from __future__ import annotations

import os
from collections import Counter
from urllib.parse import unquote, urlparse

import duckdb
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from airline_dataset_hadoop_public_spark.sources.ingest import (
    canonicalize,
    read_canonical,
)
from airline_dataset_hadoop_public_spark.sources.serving import (
    _bound_subtree,
    _footer_schema,
    point_read,
    write_serving,
)

SCHEMA = "origin string, stop string, v int"

# Spark lists a directory's children in a parallel job once it has
# more than this many (spark.sql.sources.parallelPartitionDiscovery.threshold).
PARALLEL_LISTING_THRESHOLD = 32

ROWS = [
    ("B", "x", 1),
    ("B", "y", 2),
    ("B", None, 3),  # stop=__HIVE_DEFAULT_PARTITION__
    (None, "x", 4),  # origin=__HIVE_DEFAULT_PARTITION__
    ("a/b c=d%", "q", 5),  # escaped on write
    ("A", "1", 6),  # numeric-looking stops: a subtree holding only
    ("A", "007", 7),  # these infers int where the table infers string
    ("C", "z", 8),
]


def _whole_table(spark, root, schema=None, **keys):
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(root)
    for k, v in keys.items():
        df = df.filter(F.col(k) == F.lit(v))
    return df


def _assert_same_answer(got, want):
    assert got.schema == want.schema
    # Rows by repr: arrays and maps collect as lists and dicts, which
    # do not hash.
    assert Counter(map(repr, got.collect())) == Counter(map(repr, want.collect()))


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("serving") / "legs")
    write_serving(
        spark.createDataFrame(ROWS, SCHEMA).repartition(1), root, ["origin", "stop"]
    )
    return root


@pytest.mark.parametrize(
    "keys",
    [
        pytest.param({"origin": "B", "stop": "x"}, id="hit"),
        pytest.param({"origin": "a/b c=d%", "stop": "q"}, id="escaped-value"),
        pytest.param({"origin": "B", "stop": None}, id="null-leaf"),
        pytest.param({"origin": None, "stop": "x"}, id="null-outer"),
        pytest.param({"origin": "A", "stop": "1"}, id="numeric-looking-1"),
        pytest.param({"origin": "A", "stop": "007"}, id="numeric-looking-007"),
        pytest.param({"origin": "A"}, id="numeric-looking-subtree"),
        pytest.param({"origin": "ZZZ", "stop": "x"}, id="miss-outer"),
        pytest.param({"origin": "B", "stop": "nope"}, id="miss-leaf"),
        pytest.param({"origin": "B"}, id="outer-only"),
        pytest.param({"stop": "x"}, id="inner-only"),
        pytest.param({"origin": "B", "stop": "x", "v": -1}, id="residual-miss"),
        pytest.param({"origin": "B", "stop": "y", "v": 2}, id="residual-hit"),
    ],
)
def test_point_read_matches_whole_table_read(spark, table, keys):
    _assert_same_answer(point_read(spark, table, **keys), _whole_table(spark, table, **keys))


def test_point_read_of_zero_row_table_with_schema(spark, tmp_path):
    empty = spark.createDataFrame([], SCHEMA)
    root = str(tmp_path / "empty")
    write_serving(empty, root, ["origin", "stop"])
    keys = {"origin": "B", "stop": "x"}
    got = point_read(spark, root, schema=empty.schema, **keys)
    _assert_same_answer(got, _whole_table(spark, root, schema=empty.schema, **keys))
    assert got.count() == 0


def _assert_same_error(spark, root, **keys):
    with pytest.raises(AnalysisException) as want:
        _whole_table(spark, root, **keys)
    with pytest.raises(AnalysisException) as got:
        point_read(spark, root, **keys)
    assert got.value.getCondition() == want.value.getCondition()


def test_point_read_unknown_column_raises_as_whole_table_read(spark, table):
    _assert_same_error(spark, table, origin="B", nope="x")


def test_point_read_missing_table_raises_as_whole_table_read(spark, tmp_path):
    _assert_same_error(spark, str(tmp_path / "absent"), origin="B", stop="x")


def test_bound_lookup_lists_and_reads_only_its_leaf(spark, spark_jobs, tmp_path):
    """Over the parallel-listing threshold, a whole-table read runs a
    listing job before it reads a row. A fully bound lookup runs one
    job, the scan, over its leaf's files: the schema comes from a
    footer read in the driver, not from an inference job."""
    n = PARALLEL_LISTING_THRESHOLD + 8
    rows = [(f"O{i:02d}", s, i) for i in range(n) for s in ("S1", "S2")]
    root = str(tmp_path / "wide")
    write_serving(
        spark.createDataFrame(rows, SCHEMA).repartition(1), root, ["origin", "stop"]
    )

    def lookup():
        df = point_read(spark, root, origin="O07", stop="S2")
        return df, df.collect()

    (df, got), jobs = spark_jobs("test-bound-lookup-jobs", lookup)
    assert [tuple(r) for r in got] == [(7, "O07", "S2")]
    assert jobs == 1
    leaf = os.path.join(root, "origin=O07", "stop=S2") + os.sep
    files = df.inputFiles()
    assert files
    assert all(unquote(urlparse(f).path).startswith(leaf) for f in files)


# Every column type the footer schema must carry as inference does;
# ``k`` is the partition column.
ALL_TYPES = """
    s string, i int, l bigint, d double, dec decimal(10, 2), b boolean,
    dt date, ts timestamp, ntz timestamp_ntz, vc varchar(5), ch char(3),
    arr array<int>, st struct<x: int, y: string>, m map<string, int>,
    k string
"""


def test_footer_schema_matches_inference_for_every_type(spark, tmp_path):
    """The schema read from a footer in the driver equals the one
    Spark infers, for every column type, with timestamp_ntz inference
    off; lookups and whole-table reads answer as Spark's own read."""
    assert spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false"
    root = str(tmp_path / "types")
    spark.sql("DROP TABLE IF EXISTS footer_types")
    spark.sql(
        f"CREATE TABLE footer_types ({ALL_TYPES}) USING parquet "
        f"PARTITIONED BY (k) LOCATION '{root}'"
    )
    try:
        spark.sql(
            """INSERT INTO footer_types VALUES
            ('a', 1, 2, 1.5, 1.25, true, DATE'2008-01-03',
             TIMESTAMP'2008-01-03 04:05:06', TIMESTAMP_NTZ'2008-01-03 04:05:06',
             'vc', 'c', array(1, 2), named_struct('x', 1, 'y', 'z'),
             map('m', 1), 'p'),
            (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
             NULL, NULL, NULL, 'q')"""
        )
    finally:
        spark.sql("DROP TABLE footer_types")
    want = spark.read.parquet(root)
    assert "timestamp_ntz" in want.schema.simpleString()
    _, cols, data_file = _bound_subtree(spark, root, {"k": "p"})
    footer = _footer_schema(spark, data_file, cols)
    assert footer is not None
    assert read_canonical(spark, root).schema == want.schema
    for keys in ({"k": "p"}, {"k": "q"}, {"k": "absent"}, {}):
        _assert_same_answer(
            point_read(spark, root, **keys), _whole_table(spark, root, **keys)
        )


def test_non_spark_footer_falls_back_to_inference(spark, tmp_path):
    """A DuckDB-written table has no Spark schema in its footers, so
    Spark infers it; every lookup still answers as Spark's own read."""
    root = str(tmp_path / "duck")
    with duckdb.connect() as con:
        con.execute(
            "COPY (SELECT * FROM (VALUES ('B', 'x', 1), ('B', 'y', 2),"
            " ('C', 'z', 3)) t(origin, stop, v))"
            f" TO '{root}' (FORMAT parquet, PARTITION_BY (origin, stop))"
        )
    _, cols, data_file = _bound_subtree(spark, root, {"origin": "B", "stop": "x"})
    assert data_file is not None
    assert _footer_schema(spark, data_file, cols) is None
    for keys in ({"origin": "B", "stop": "x"}, {"origin": "B"}, {"stop": "z"}):
        _assert_same_answer(
            point_read(spark, root, **keys), _whole_table(spark, root, **keys)
        )


def test_data_column_named_like_partition_column(spark, tmp_path):
    """Files that also hold the partition column ``k``: inference types
    ``k`` from the path (int), so the footer schema, which says string,
    must not be passed."""
    root = tmp_path / "overlap"
    spark.createDataFrame([("1", 1)], "k string, v int").write.parquet(
        str(root / "k=1")
    )
    root = str(root)
    want = spark.read.parquet(root)
    assert read_canonical(spark, root).schema == want.schema
    _assert_same_answer(point_read(spark, root, k="1"), _whole_table(spark, root, k="1"))


def test_point_read_merges_schemas_as_whole_table_read(spark, tmp_path):
    """With ``spark.sql.parquet.mergeSchema`` on, a lookup answers with
    the schema merged over every leaf, as Spark's merged read does,
    even where its own leaf lacks a column."""
    root = tmp_path / "merged"
    spark.createDataFrame([(1,)], "v int").write.parquet(
        str(root / "origin=A" / "stop=x")
    )
    spark.createDataFrame([(2, "w")], "v int, w string").write.parquet(
        str(root / "origin=B" / "stop=y")
    )
    root = str(root)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert "w" in _whole_table(spark, root).columns
        for keys in (
            {"origin": "A", "stop": "x"},
            {"origin": "B", "stop": "y"},
            {"origin": "A"},
        ):
            _assert_same_answer(
                point_read(spark, root, **keys), _whole_table(spark, root, **keys)
            )
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_read_canonical_takes_schema_from_footer(spark, spark_jobs, tmp_path):
    """Reading the canonical table runs no Spark job, and it answers
    as ``spark.read.parquet`` does."""
    path = str(tmp_path / "canonical")
    frame = spark.createDataFrame(
        [("2008-01-03", "AA", 1.5), ("2009-02-04", "UA", None)],
        "FlightDate string, UniqueCarrier string, DepDelay double",
    ).withColumn("FlightDate", F.to_date("FlightDate"))
    canonicalize(frame, path)
    got, jobs = spark_jobs(
        "test-read-canonical-jobs", lambda: read_canonical(spark, path)
    )
    assert jobs == 0
    _assert_same_answer(got, spark.read.parquet(path))


def _assert_read_canonical_raises_as_spark_read(spark, path):
    with pytest.raises(AnalysisException) as want:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as got:
        read_canonical(spark, path)
    assert got.value.getCondition() == want.value.getCondition()
    return got.value.getCondition()


def test_read_canonical_missing_path_raises_as_spark_read(spark, tmp_path):
    condition = _assert_read_canonical_raises_as_spark_read(
        spark, str(tmp_path / "absent")
    )
    assert condition == "PATH_NOT_FOUND"


def test_read_canonical_of_directory_without_data_files(spark, tmp_path):
    """A zero-row canonicalize leaves only ``_SUCCESS``; the read fails
    as Spark's inference over it does."""
    path = str(tmp_path / "canonical-empty")
    canonicalize(spark.createDataFrame([], "FlightDate date, Origin string"), path)
    assert set(os.listdir(path)) <= {"_SUCCESS", "._SUCCESS.crc"}
    _assert_read_canonical_raises_as_spark_read(spark, path)
