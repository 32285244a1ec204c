"""Query registry backing the driver contract (__spark_entry__.py).

Each named query is a callable (spark, sf_dir) -> DataFrame paired with
a required ANSI-SQL oracle string DuckDB runs on the same parquet
tables. ``queries()`` and ``oracle_sql()`` yield the same names in
registration order: fixture modules in ``_load_all()``'s import order,
each module's ``@register`` sites top to bottom.

Oracle discipline (SURVEY.md §5.2 / FIXTURES.md): identical column
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
    oracle: str


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


def register(name: str, oracle: str):
    for token, sql in _ORACLE_TOKENS.items():
        oracle = oracle.replace(token, sql)

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(fn, oracle)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: d.fn for name, d in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: d.oracle for name, d in REGISTRY.items()}


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
