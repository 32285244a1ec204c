"""Focused tests for the r11 optimization-round reshapes.

Same discipline as tests/test_r10_optimizations.py: every reshape's
contract is RESULT EQUALITY with the formulation it replaced, pinned
directly here in addition to the registered-query oracles.
"""

from __future__ import annotations


# --- streaming state sizing: non-local-path guard (VERDICT r10 item 5) -----


def test_stream_partitions_fall_back_on_missing_path(spark, tmp_path):
    from airline_dataset_hadoop_public_spark.streaming import windows as W

    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # a path os.walk yields nothing for (missing dir — the same
    # zero-bytes shape as an hdfs:///s3:// URI) must keep the session
    # default, not pin ONE state store
    assert (
        W.scoped_stream_shuffle_partitions(
            spark, str(tmp_path / "does_not_exist")
        )
        == cur
    )
    # an existing-but-empty dir likewise
    d = tmp_path / "empty"
    d.mkdir()
    assert W.scoped_stream_shuffle_partitions(spark, str(d)) == cur

