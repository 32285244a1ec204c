"""Query registry backing the driver contract (__spark_entry__.py).

Each named query is a callable (spark, sf_dir) -> DataFrame paired with
an optional ANSI-SQL oracle string DuckDB runs on the same parquet
tables. Discipline (SURVEY.md §5.2 / FIXTURES.md): identical column
aliases on both sides, ROUND(x, 4) on floating aggregates, an explicit
deterministic tie-break on every order used with limit/row_number, and
temporal outputs rendered as strings with matching formats.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    fn: QueryFn
    oracle: str | None  # None → driver records weaker rows-only check
    module: str = ""  # short fixture-module name, for family-level ordering


REGISTRY: dict[str, QueryDef] = {}


# Shared DuckDB WHERE fragment for the vector-validity contract
# (operators/similarity.vector_is_valid; FIXTURES.md §K rule 1):
# non-NULL, every element finite, positive L2 norm. Oracles write the
# token and register() expands it, so the contract has ONE SQL
# definition instead of a copy per fixture.
VALID_EMBEDDING_SQL = (
    "embedding IS NOT NULL AND list_aggregate(list_transform(embedding, "
    "x -> CASE WHEN isfinite(x) THEN 0 ELSE 1 END), 'max') = 0 AND "
    "list_aggregate(list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * x), 'sum') > 0"
)

_ORACLE_TOKENS = {"__VALID_EMBEDDING__": VALID_EMBEDDING_SQL}


def register(name: str, oracle: str | None):
    if oracle is not None:
        for token, sql in _ORACLE_TOKENS.items():
            oracle = oracle.replace(token, sql)

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(fn, oracle, fn.__module__.rsplit(".", 1)[-1])
        return fn

    return deco


# The driver verifies a prefix window of the registry (50 queries per
# round), so exposure order is a coverage decision, not cosmetics.
# Mechanical packer, three tiers:
#   1. _PINNED_FIRST jump the queue (e.g. a query whose oracle was red
#      last round and must re-verify).
#   2. Queries with NO driver-green CORRECTNESS row yet
#      (plans/driver_history.py, a frozen snapshot), dealt round-robin across
#      fixture modules — breadth before depth, so every never-verified
#      family lands inside the window before any family gets a second
#      slot; modules with more unverified queries enter the robin
#      first, so the window's partial last cycle favors the deepest
#      backlogs.
#   3. Already-verified queries, OLDEST newest-green-row FIRST
#      (registration order within a round tier) — once lifetime
#      coverage closed in r5, the window's job became bounding
#      evidence staleness: code reworked in r3–r5 must not coast on an
#      r1/r2 oracle row (r5 verdict item 1). Each round the ~50
#      stalest rows refresh, so max staleness stays ≈ ceil(registry /
#      window) rounds.
# r10 pins, two groups.
#
# Group 1 (r9 verdict task 2): the four r4-stale leftovers — the
# oldest evidence registry-wide, all independently re-run green by the
# r9 judge — plus events_value_deciles, whose plan changed in the r8
# self-audit reshape (ntile closed forms) but whose newest driver row
# is still r6 (the r8 item-2 miss the r9 judge flagged).
#
# Group 2 (r10 broadcast audit, r9 verdict task 4 + ADVICE): every
# query whose PHYSICAL SHAPE changed when the audit removed data-scaled
# F.broadcast hints (fact-scaled TPC-H customer/part/supplier sides,
# the corpus-scaled decontamination n-gram set, the churn-scaled MOR
# delete manifest, key/group-cardinality frames in the generic
# kmv/ddsketch/ntile operators, the customer-scaled bloom confirm
# side). AQE now picks those strategies from runtime sizes; values are
# join-strategy-invariant (the planshift axis proves it), which is
# exactly why they must re-verify through the driver window rather
# than coast on rows that measured the hinted plans.
# orders_mor_position_deletes and events_value_deciles double-dip
# (group 1 + a removed hint).
#
# Window arithmetic (recorded in BASELINE.md r10 handoff): 50 slots =
# these 25 pins + corpus_mixing_weights and streaming_ingest_resume
# (new registrations → never-verified tier 2) + the 23 stalest r5
# names; 3 of the pins (g2q1, g2q2, events_ddsketch_quantiles) are
# themselves r5, so 21 r5 names roll to r11 and max staleness
# registry-wide stays ≤ r5.
_PINNED_FIRST: list[str] = [
    "text_langid_confusion",
    "warehouse_write_audit_publish",
    "storage_compaction_bin_pack",
    "orders_mor_position_deletes",
    "events_value_deciles",
    "events_kmv_distinct_users",
    "g2q1_top10_customers_per_segment",
    "g2q2_top10_parts_per_brand",
    "tpch_q3_shipping_priority",
    "tpch_q14_promo_revenue_pct",
    "tpch_q17_small_quantity_avg_revenue",
    "tpch_q19_disjunctive_brand_revenue",
    "tpch_q16_supplier_diversity",
    "tpch_q21_waiting_suppliers",
    "tpch_q8_national_market_share",
    "tpch_q9_part_pattern_revenue",
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_parts",
    "tpch_q20_excess_shippers",
    "dq_constraint_report",
    "serving_point_read",
    "docs_decontaminate",
    "orders_bloom_semijoin_reduction",
    "events_ddsketch_quantiles",
    # r10b (cell audit): posting sample now bounded BEFORE the collect
    # via a map-side WindowGroupLimit — plan changed after its r9 row
    "docs_inverted_index",
    # r10 optimization round: plans/execution reshaped (per-cell Arrow
    # pair kernel; input-sized streaming state partitions; scoped
    # iterative-loop shuffles; NTILE totals fused into the rank
    # walks) — re-witness first. All re-verified green at sf0.01 AND
    # sf0.1 locally before landing (OPTIMIZATION_r10.md).
    "dedup_embedding_cosine_ivf",
    "dedup_semantic_keeplist",
    "embeddings_mutual_knn_graph",
    "embeddings_cluster_curation_report",
    "orders_rfm_segmentation",
    "parts_copurchase_kcore",
    "parts_copurchase_bfs_hops",
    "streaming_session_windows",
    "streaming_stream_stream_join",
    "streaming_state_introspection",
]


def _ordered() -> list[tuple[str, QueryDef]]:
    from .driver_history import DRIVER_LAST_GREEN

    items = list(REGISTRY.items())
    pinned = [it for it in items if it[0] in _PINNED_FIRST]
    pinned.sort(key=lambda it: _PINNED_FIRST.index(it[0]))
    rest = [it for it in items if it[0] not in _PINNED_FIRST]

    fresh: dict[str, list[tuple[str, QueryDef]]] = {}
    verified: list[tuple[str, QueryDef]] = []
    for name, d in rest:  # registration order preserved within buckets
        if name in DRIVER_LAST_GREEN:
            verified.append((name, d))
        else:
            fresh.setdefault(d.module, []).append((name, d))

    # deepest-backlog modules first; module name breaks ties stably
    queues = sorted(fresh.items(), key=lambda kv: (-len(kv[1]), kv[0]))
    robin: list[tuple[str, QueryDef]] = []
    while any(q for _, q in queues):
        for _, q in queues:
            if q:
                robin.append(q.pop(0))

    # stalest evidence first; Python's sort is stable, so ties keep
    # registration order
    verified.sort(key=lambda it: DRIVER_LAST_GREEN[it[0]])

    return pinned + robin + verified


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: d.fn for name, d in _ordered()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: d.oracle for name, d in _ordered() if d.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from . import fixtures_ingest  # noqa: F401
    from . import fixtures_ingest_extra  # noqa: F401
    from . import fixtures_parity  # noqa: F401
    from . import fixtures_analytics  # noqa: F401
    from . import fixtures_tpch_extra  # noqa: F401
    from . import fixtures_tpch_wave2  # noqa: F401
    from . import fixtures_tpch_wave3  # noqa: F401
    from . import fixtures_product_analytics  # noqa: F401
    from . import fixtures_training_prep  # noqa: F401
    from . import fixtures_timeseries  # noqa: F401
    from . import fixtures_scale_patterns  # noqa: F401
    from . import fixtures_resolution  # noqa: F401
    from . import fixtures_statistics  # noqa: F401
    from . import fixtures_graph  # noqa: F401
    from . import fixtures_procedural  # noqa: F401
    from . import fixtures_corpus_model  # noqa: F401
    from . import fixtures_behavior  # noqa: F401
    from . import fixtures_storage  # noqa: F401
    from . import fixtures_streaming2  # noqa: F401
    # Unconditional on purpose: neither module has an optional
    # dependency, and a blanket `except ImportError` here would
    # silently deregister a whole query family on any transitive
    # import typo — the driver's rounds would then pass vacuously.
    # Env-gated registration belongs INSIDE a module, probing the
    # specific dependency (see fixtures_streaming2._tws_available).
    from . import fixtures_extensions  # noqa: F401
    from . import fixtures_streaming  # noqa: F401

    _LOADED = True
