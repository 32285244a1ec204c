"""Storage wave (fixtures_storage.py): provenance columns and the
footer-only aggregate contract."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_footer_stats_plan_reads_no_data_pages(spark):
    from airline_dataset_hadoop_public_spark.plans.fixtures_storage import (
        storage_footer_stats_agg,
    )

    df = storage_footer_stats_agg(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the scan carries the pushed aggregate — MIN/MAX/COUNT come from
    # parquet footers, no data pages are decoded
    assert "PushedAggregation: [MIN(doc_id)" in plan
    row = df.collect()[0]
    assert (row["min_id"], row["max_id"], row["n_rows"]) == (0, 499, 500)
    # configs restored after the call
    assert spark.conf.get("spark.sql.parquet.aggregatePushdown") == "false"


def test_provenance_buckets_account_every_row(spark):
    from airline_dataset_hadoop_public_spark.plans.fixtures_storage import (
        ingest_file_provenance,
    )

    rows = ingest_file_provenance(spark, SF).collect()
    assert sorted(r["bucket"] for r in rows) == [0, 1, 2, 3]
    assert sum(r["n_docs"] for r in rows) == 500
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    total = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r["total_chars"] for r in rows) == total


def test_tws_running_extremes_or_documented_gate(spark):
    """Runs the Spark 4 transformWithStateInPandas operator when the
    environment has protobuf; otherwise asserts the capability gate is
    the documented ImportError path (not silent absence)."""
    import pytest as _pytest

    from airline_dataset_hadoop_public_spark.plans.fixtures_streaming2 import (
        _tws_available,
        streaming_tws_running_extremes,
    )

    if not _tws_available():
        from airline_dataset_hadoop_public_spark.plans.registry import queries

        assert "streaming_tws_running_extremes" not in queries()
        _pytest.skip("google.protobuf absent: TWS state server cannot start")
    out = streaming_tws_running_extremes(spark, "/root/testdata/sf0.001")
    batch = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("user_id")
        .count()
    )
    assert out.count() == batch.count()


def test_incremental_minhash_equals_batch_restriction(spark):
    """incremental(base, delta) == batch(base ∪ delta) restricted to
    pairs touching delta — the maintenance contract."""
    from airline_dataset_hadoop_public_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    index = D.minhash_build_index(base)
    inc = {
        tuple(r)
        for r in D.minhash_probe_index(index, delta).collect()
    }
    full = {
        tuple(r)
        for r in D.minhash_neardup_pairs(
            docs, threshold=0.9,
            num_hashes=96, bands=24,
        ).collect()
        if r["id_a"] % 5 == 0 or r["id_b"] % 5 == 0
    }
    assert inc == full
    assert inc  # the fixture corpus has delta-touching near-dups


def test_cluster_report_equals_pairs_plus_cc(spark):
    """minhash_neardup_clusters (rep-graph CC, linear state) must equal
    the expanded-pair path (pairs -> CC over all docs)."""
    from airline_dataset_hadoop_public_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    new = {
        (r["doc_id"], r["canonical"])
        for r in D.minhash_neardup_clusters(docs, num_hashes=96, bands=24).collect()
    }
    pairs = D.minhash_neardup_pairs(docs, threshold=0.9, num_hashes=96, bands=24)
    old = {
        (r["node"], r["component"])
        for r in D.connected_components(
            docs.select("doc_id"), pairs, node_col="doc_id"
        ).collect()
    }
    # the cluster path omits tokenless docs (none in this fixture) —
    # compare on the full doc set
    assert new == old


def test_simhash_cluster_report_equals_pairs_plus_cc(spark):
    """simhash_clusters (rep-signature CC, linear state) must equal the
    expanded-pair path (simhash_pairs -> CC over all docs) — the same
    equivalence contract minhash_neardup_clusters carries."""
    from airline_dataset_hadoop_public_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    new = {
        (r["doc_id"], r["canonical"])
        for r in D.simhash_clusters(docs).collect()
    }
    pairs = D.simhash_pairs(docs)
    old = {
        (r["node"], r["component"])
        for r in D.connected_components(
            docs.select("doc_id"), pairs, node_col="doc_id"
        ).collect()
    }
    assert new == old
    assert len({c for _, c in new}) < len(new)  # real merging happened
