"""Cache lifecycle for plan-internal persisted frames.

Several operators cache an intermediate that is referenced more than
once inside the *returned* plan (e.g. the collapsed shingle-group frame
feeding both sides of a candidate self-join). The cache pays off during
the single action the caller eventually runs, so the plan function
cannot unpersist it before returning — but never releasing it pins
executor storage for the life of the session. Across a 100+-query
driver run (or a long-lived cluster job) that accumulation is an OOM
risk.

The contract here: every plan-internal ``.cache()`` goes through
``cache_tracked``; ``release_caches()`` frees everything tracked and is
invoked (a) at the start of each driver-contract query wrapper, so at
most one query's caches are ever pinned, and (b) by bench/test
harnesses right after draining a result. Blocks for an in-flight plan
are never dropped mid-action because release happens strictly between
queries.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame

# Strong references on purpose: the persisted blocks live in the JVM
# storage layer, not the Python wrapper, so the wrapper must stay
# reachable until release_caches() can call unpersist on it.
_LIVE: list[DataFrame] = []


def cache_tracked(df: DataFrame) -> DataFrame:
    """``df.cache()`` + enrollment in the session-wide release list."""
    cached = df.cache()
    _LIVE.append(cached)
    return cached


def release_caches() -> int:
    """Unpersist every tracked frame (blocking=False). Returns the
    number of frames released. Safe to call at any between-query point;
    idempotent."""
    released = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
            released += 1
        except Exception:
            pass  # session already stopped — nothing pinned anyway
    return released


import contextlib as _contextlib


@_contextlib.contextmanager
def shuffle_partitions(spark, n: int):
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the scope and
    restore the previous value on exit. Session-global for the scope's
    duration: this engine runs queries sequentially per session."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield n
    finally:
        spark.conf.set(key, prev)


def scoped_shuffle_partitions(spark, n_rows: int):
    """Scale-adaptive shuffle-partition scope for iterative loops
    (optimization guide §2): a hook/peel/frontier round shuffles
    node-cardinality state, and when the session default (sized to
    the corpus / core count) exceeds what that state needs, per-round
    task-launch overhead dominates the loop (measured 2x on the
    connected-components label loop at sf0.1). Target =
    n_rows // 100_000 + 2, clamped to [2, session default] — a big
    graph keeps the session default, so cluster deployments are
    unaffected.

    The caller must materialize (localCheckpoint) every frame built
    inside the scope that escapes it; restoring the conf cannot
    affect already-checkpointed RDDs. Session-global for the scope's
    duration — same sequential-queries caveat as connected_components.
    """
    prev = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return shuffle_partitions(spark, max(2, min(prev, n_rows // 100_000 + 2)))


# ---------------------------------------------------------------------------
# Shared scratch-mirror conventions (stream mirrors, persisted indexes,
# sink roots). One definition so every fixture invalidates the same way.
# ---------------------------------------------------------------------------


def scratch_dir(*parts: str) -> str:
    """<repo-root>/.scratch/<parts...> — the gitignored mirror root."""
    root = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        ".scratch",
    )
    return _os.path.join(root, *parts)


def source_fingerprint(path: str) -> str:
    """(mtime in ns, size) identity of a source file, for mirror cache
    keys — a regenerated fixture invalidates every derived mirror, even
    one rewritten within the same second."""
    try:
        st = _os.stat(path)
        return f"{st.st_mtime_ns}_{st.st_size}"
    except OSError:
        return "unknown"


def source_scratch_key(sf_dir: str, table_file: str) -> str:
    """``<sf-tag>_<mtime>_<size>`` cache key for scratch mirrors
    derived from one fixture table. Every mirror keyed this way is
    ORPHANED (not corrupted) by a regenerated corpus: the key changes,
    the old directory is simply never read again. One definition so
    the stream mirrors, the persisted LSH index, the state checkpoint
    and the bucketed warehouse tables can never drift onto different
    invalidation rules."""
    tag = _os.path.basename(_os.path.normpath(sf_dir)) or "sf"
    return f"{tag}_{source_fingerprint(_os.path.join(sf_dir, table_file))}"
