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

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from airline_dataset_hadoop_public_spark.sources.serving import (
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
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


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


def test_bound_lookup_lists_and_reads_only_its_leaf(spark, tmp_path):
    """Over the parallel-listing threshold, a whole-table read runs a
    listing job before it reads a row; a fully bound lookup runs only
    the footer schema inference and the scan, over its leaf's files."""
    n = PARALLEL_LISTING_THRESHOLD + 8
    rows = [(f"O{i:02d}", s, i) for i in range(n) for s in ("S1", "S2")]
    root = str(tmp_path / "wide")
    write_serving(
        spark.createDataFrame(rows, SCHEMA).repartition(1), root, ["origin", "stop"]
    )
    sc = spark.sparkContext
    group = "test-bound-lookup-jobs"
    sc.setJobGroup(group, "point_read of one leaf")
    try:
        df = point_read(spark, root, origin="O07", stop="S2")
        got = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [tuple(r) for r in got] == [(7, "O07", "S2")]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    leaf = os.path.join(root, "origin=O07", "stop=S2") + os.sep
    files = df.inputFiles()
    assert files
    assert all(unquote(urlparse(f).path).startswith(leaf) for f in files)
