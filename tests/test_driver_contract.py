"""Smoke-level checks of the driver contract (__spark_entry__.py).

The heavyweight oracle comparison lives in scripts/check_correctness.py
(run at sf0.01); here we assert the contract shape and that every query
executes at sf0.001 with a stable, readable schema.
"""

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["key", "cnt"]


def test_queries_and_oracles_align():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) == set(qs)
    assert len(qs) >= 175  # the registry never silently shrinks
    # one sentinel per fixture module: a swallowed import error that
    # deregistered a whole family must fail HERE, not pass vacuously
    sentinels = {
        "ingest_csv_roundtrip",  # fixtures_ingest
        "ingest_jsonl_roundtrip",  # fixtures_ingest_extra
        "g1q1_top10_popularity",  # fixtures_parity
        "events_batch_sessionization",  # fixtures_analytics
        "tpch_q5_local_supplier_revenue",  # fixtures_tpch_extra
        "tpch_q7_volume_shipping",  # fixtures_tpch_wave2
        "tpch_q2_min_cost_supplier",  # fixtures_tpch_wave3
        "events_cohort_retention",  # fixtures_product_analytics
        "docs_pack_sequences",  # fixtures_training_prep
        "events_resample_15m_ffill",  # fixtures_timeseries
        "warehouse_bucketed_join",  # fixtures_scale_patterns
        "orders_bloom_semijoin_reduction",  # fixtures_resolution
        "parts_copurchase_pagerank",  # fixtures_graph
        "events_type_streaks_udtf",  # fixtures_procedural
        "corpus_bpe_pair_merge",  # fixtures_corpus_model
        "events_eventually_follows",  # fixtures_behavior
        "dedup_minhash_incremental",  # fixtures_storage
        "dedup_minhash_neardup",  # fixtures_extensions
        "streaming_tumbling_counts",  # fixtures_streaming
    }
    missing = sentinels - set(qs)
    assert not missing, f"family sentinel(s) vanished: {sorted(missing)}"


def test_apply_engine_conf_restores_engine_defaults(spark):
    """A driver-built session may carry other values for the engine
    confs; apply_engine_conf must put every one of them back."""
    from airline_dataset_hadoop_public_spark.session import (
        ENGINE_CONF,
        apply_engine_conf,
    )

    before = {k: spark.conf.get(k) for k in ENGINE_CONF}
    flipped = {"true": "false", "false": "true"}
    try:
        for k, v in before.items():
            zone = "America/Los_Angeles" if v == "UTC" else "UTC"
            spark.conf.set(k, flipped.get(v, zone))
        assert {k: spark.conf.get(k) for k in ENGINE_CONF} != before
        apply_engine_conf(spark)
        assert {k: spark.conf.get(k) for k in ENGINE_CONF} == before
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_oracles_are_valid_duckdb_sql():
    """Every oracle must at least parse and bind against the fixture
    views (catches SQL typos without running Spark)."""
    con = duckdb.connect()
    from airline_dataset_hadoop_public_spark.sources.catalog import FIXTURE_TABLES

    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(sql).fetchone()
        except Exception as ex:  # pragma: no cover
            pytest.fail(f"oracle for {name} failed: {ex}")


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_at_smoke_scale(spark, name):
    df = entrymod.queries()[name](spark, SF_SMOKE)
    assert df.columns, name
    df.limit(5).collect()
