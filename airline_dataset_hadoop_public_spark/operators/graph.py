"""Iterative graph algorithms over edge-list DataFrames.

The reference has no graph surface at all (its closest analog is the
single tagged reduce-side join, reference README.md:437-520); this
module supplies the Pregel-style *aggregate-then-iterate* pattern a
100 TB pipeline actually uses: the raw fact table is first collapsed
into a weighted edge list (linear scan + one shuffle), and the
iterative part then runs over the much smaller graph — each iteration
is one join + one aggregate on (src, dst, frac), never on the raw
facts.

Scale contracts:
- The contribution frame (edges normalized by out-degree) is computed
  once, cached for the loop, and unpersisted before return.
- Each iteration's rank frame is localCheckpoint-truncated so the
  logical plan stays O(1) in the iteration count instead of doubling
  per round (same discipline as connected components,
  dedup.connected_components).
- Double-precision rank sums are order-nondeterministic in their low
  bits; callers that need cross-engine stable output must round
  (ROUND(rank*N, 4) keeps ~11 safe decimal digits of headroom).

Related: connected components (dedup.connected_components) covers the
label-propagation family; this covers fixed-point scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregates import ROUND_DIGITS
from ..runtime import cache_tracked, scoped_shuffle_partitions, shuffle_partitions

# Every operator here reads edges as (src, dst) columns; pagerank also
# reads the edge weight column w.

_DAMPING = 0.85  # pagerank's damping factor
_CHECKPOINT_INTERVAL = 5  # pagerank truncates rank lineage every this many rounds


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    symmetric: bool = True,
) -> DataFrame:
    """Weighted PageRank (damping ``_DAMPING``) over a directed
    (src, dst, w) edge list.

    Returns (pk, r) with sum(r) == 1 when every node has out-edges
    (no dangling-mass redistribution is performed; co-occurrence
    graphs are symmetric so the caller contract holds by
    construction — pass symmetric=False for graphs where sink-only
    nodes may exist, which also pays an extra union-distinct to
    collect them).

    The contribution frame is the ONLY cached materialization of the
    edge build: the out-degree aggregate inside it is an identical
    subtree to the edge groupBy, so Spark's ReuseExchange serves both
    from one shuffle, and with symmetric=True the node set is derived
    from the cached frame instead of re-scanning the edges.
    """
    out = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    contrib = (
        edges.join(out, "src")
        .select(
            F.col("src").alias("c_src"),
            F.col("dst").alias("c_dst"),
            (F.col("w").cast("double") / F.col("outw")).alias("frac"),
        )
        .cache()
    )
    if symmetric:
        nodes = contrib.select(F.col("c_src").alias("pk")).distinct()
    else:
        nodes = (
            edges.select(F.col("src").alias("pk"))
            .union(edges.select(F.col("dst").alias("pk")))
            .distinct()
        )
    nodes = nodes.cache()
    n = nodes.count()
    if n == 0:
        # empty graph: no nodes, no ranks (1/n below would divide by
        # zero) — empty partitions are routine at scale. Materialize
        # the empty frame BEFORE dropping the caches it derives from.
        empty = nodes.select("pk", F.lit(0.0).alias("r")).localCheckpoint(
            eager=True
        )
        contrib.unpersist()
        nodes.unpersist()
        return empty

    ranks = nodes.select("pk", F.lit(1.0 / n).alias("r"))
    base = (1.0 - _DAMPING) / n
    try:
        for i in range(iters):
            # ranks is node-cardinality (small vs edges): broadcast it
            # so the per-iteration join never shuffles the edge table
            msgs = (
                contrib.join(F.broadcast(ranks), contrib.c_src == ranks.pk)
                .groupBy("c_dst")
                .agg(F.sum(F.col("r") * F.col("frac")).alias("msum"))
            )
            ranks = nodes.join(msgs, nodes.pk == msgs.c_dst, "left").select(
                "pk",
                (
                    F.lit(base) + F.lit(_DAMPING) * F.coalesce("msum", F.lit(0.0))
                ).alias("r"),
            )
            # truncate lineage only every few rounds: deep runs stay
            # O(interval) in plan size, shallow runs stay one fully
            # pipelined job (each eager checkpoint is its own job)
            if (i + 1) % _CHECKPOINT_INTERVAL == 0 and (i + 1) < iters:
                ranks = ranks.localCheckpoint(eager=True)
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        contrib.unpersist()
        nodes.unpersist()
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph, via DEGREE-ORDERED edge orientation (Suri &
    Vassilvitskii, WWW 2011 — the canonical scalable triangle join).

    Orienting every edge from its lower-(degree, id) endpoint to its
    higher one bounds each node's out-degree by O(sqrt(m)) regardless
    of how skewed the raw degree distribution is — the wedge join
    (out-edges self-joined on their source) is therefore O(m^1.5)
    total instead of sum(deg^2), which is what makes a hub node with
    10^6 neighbors survivable at 100 TB. Each triangle is generated
    exactly once, at its orientation-minimal vertex, then credited to
    all three corners.

    Output: (node, degree, triangles, clustering) with clustering =
    2*t / (d*(d-1)) rounded to ``ROUND_DIGITS`` (0.0 for degree < 2).
    """
    canon = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    canon = cache_tracked(canon)
    deg = (
        canon.select(F.col("u").alias("n"))
        .unionAll(canon.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    # orientation key: (degree, id) packed into ONE BIGINT
    # (degree << 32 | id) — a TOTAL order, so in any triangle the
    # closing edge's direction is fully determined and the closing
    # join is a pure two-column equi-join (an either-way OR-join here
    # would plan as a nested loop and sink the scale story). The
    # packed key keeps the wedge shuffle rows narrow; it requires
    # 0 <= id < 2^32 — comfortable for any graph whose ids are
    # dense-ish node numbers. An out-of-range id (negative, or a raw
    # 64-bit hash id) would COLLIDE packed keys and silently drop
    # triangles, so it raises instead: re-key upstream (dense rank)
    # before calling. The check runs on the per-node degree frame —
    # n rows, codegen'd, no extra action.
    def _checked(c: str):
        return F.when(
            (F.col(c) >= 0) & (F.col(c) < F.lit(1 << 32)), F.col(c)
        ).otherwise(
            F.raise_error(
                F.format_string(
                    "triangle_counts requires 0 <= node id < 2^32 for the "
                    "packed orientation key; got %s — dense-rank ids "
                    "upstream",
                    F.col(c),
                )
            )
        )

    ku = F.shiftleft(F.col("du"), 32) + _checked("u")
    kv = F.shiftleft(F.col("dv"), 32) + _checked("v")
    oriented = cache_tracked(
        canon.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                ku < kv,
                F.struct(
                    F.col("u").alias("a"), F.col("v").alias("b"), kv.alias("kb")
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("a"), F.col("u").alias("b"), ku.alias("kb")
                )
            )
            .alias("e")
        )
        .select("e.a", "e.b", "e.kb")
    )
    o1 = oriented.select(F.col("a").alias("p"), F.col("b").alias("x"), F.col("kb").alias("kx"))
    o2 = oriented.select(F.col("a").alias("p"), F.col("b").alias("y"), F.col("kb").alias("ky"))
    # emit each wedge once, corners ordered by the ORIENTATION key, so
    # the closing edge (if present) is oriented exactly x' -> y'
    wedges = o1.join(o2, "p").filter(F.col("kx") < F.col("ky")).select("p", "x", "y")
    closer = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    # shuffled HASH join, not sort-merge: the wedge side is O(m^1.5)
    # rows and sorting it is pure waste — build the hash table on the
    # edge side (m rows), stream the wedges through it
    tri = wedges.join(closer.hint("shuffle_hash"), ["x", "y"]).select(
        "p", "x", "y"
    )
    per_node = (
        tri.select(F.col("p").alias("n"))
        .unionAll(tri.select(F.col("x").alias("n")))
        .unionAll(tri.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("deg").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                ).otherwise(0.0),
                ROUND_DIGITS,
            ).alias("clustering"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    undirected: bool = False,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed, bounded
    by ``max_hops``.  ``seeds`` must expose one column ``n``.

    Returns (n, hop) for every node reachable within the bound, hop =
    min #edges from the nearest seed (seeds themselves at hop 0).

    Frontier-expansion shape (the Pregel BFS): each round joins the
    CURRENT frontier — never the visited set — against the edge list,
    then anti-joins first discoveries out.  Work per round is
    O(frontier out-edges), total O(m) across the run, and the
    frontier frames are node-cardinality, localCheckpoint-truncated
    every round so plan depth stays O(1) in hop count.

    r7b refinements:
    - the anti-join runs BEFORE the distinct, as a forced-broadcast
      map-side filter, so the dedup shuffle carries only genuinely
      new nodes instead of the whole expansion (filter-then-dedup ≡
      dedup-then-filter);
    - ``undirected=True`` asserts the edge list is symmetric, in
      which case a neighbor of frontier h−1 sits at distance h−2,
      h−1 or h — the anti-join needs only the LAST TWO frontiers,
      not the whole visited set, and the visited accumulation
      becomes a lazy union of the already-checkpointed frontiers
      (no per-round visited materialization);
    - both joins of a round broadcast unconditionally: the expansion
      broadcasts the current frontier, the anti-join the block of
      earlier frontiers (the last two when undirected, all of them
      otherwise). That holds while those stay far below node scale;
      a graph whose frontiers approach node scale would need both as
      shuffled joins instead.
    """
    frontier = (
        seeds.select("n").distinct().withColumn("hop", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontiers = [frontier]
    prev: DataFrame | None = None  # frontier at h-2 (undirected block)
    # Per-round scale-adaptive dedup shuffle (optimization guide §2):
    # the round's only shuffle is the `.distinct()` over the frontier
    # expansion, whose size tracks the CURRENT frontier — at the
    # session default (cores-sized locally) a few-thousand-node
    # frontier pays 32 task launches per round for near-empty
    # partitions. The emptiness probe already scans the materialized
    # frontier, so the count is free context; the target assumes ≤ ~8x
    # expansion per 100k-row partition and is clamped to the session
    # default, so a frontier that grows toward graph scale restores
    # full parallelism. Each round's result is localCheckpoint-
    # materialized inside its scope.
    spark = frontier.sparkSession
    session_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for h in range(1, max_hops + 1):
        n_f = frontier.count()
        if n_f == 0:
            break
        if undirected:
            block = frontier.select("n")
            if prev is not None:
                block = block.unionByName(prev.select("n"))
        else:
            block = None
            for f in frontiers:
                fn = f.select("n")
                block = fn if block is None else block.unionByName(fn)
        # the frontier side of the expansion join is force-broadcast
        # (r11, ADVICE r10): the per-round clamp sizes the shuffle
        # count from the FRONTIER alone, and a localCheckpointed
        # frontier carries no size stats — if the static planner
        # picked a sort-merge join here, the FULL edge list would
        # shuffle into ~2 partitions every round. Frontier-sized,
        # consistent with the anti-join's F.broadcast(block); same
        # scale caveat as documented.
        target = max(2, min(session_default, 8 * n_f // 100_000 + 2))
        with shuffle_partitions(spark, target):
            nxt = (
                F.broadcast(frontier).join(edges, frontier.n == F.col("src"))
                .select(F.col("dst").alias("n"))
                .join(F.broadcast(block), "n", "left_anti")
                .distinct()
                .withColumn("hop", F.lit(h))
                .localCheckpoint(eager=True)
            )
        prev = frontier
        frontier = nxt
        frontiers.append(nxt)
    out = frontiers[0]
    for f in frontiers[1:]:
        out = out.unionByName(f)
    return out


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` iterations of "drop every
    node with fewer than k surviving neighbors", over a symmetric
    distinct edge list.  Returns the surviving edges.

    The bounded-round contract (instead of peel-to-fixpoint) is what
    makes the result stateable as a fixed declarative computation at
    ANY scale: peeling is monotone, so once the survivor set is stable
    every further round is a no-op — if the graph converges within the
    bound the result IS the k-core, and the caller can detect
    convergence by comparing the last two rounds (see the fixture's
    `converged` flag).

    Delta-maintained degrees (r7b — was: re-aggregate + re-filter +
    re-checkpoint the FULL edge list every round, ~0.6s/round at
    sf0.1): a surviving node's degree over surviving edges equals its
    original degree minus its neighbors dropped so far (each neighbor
    is dropped exactly once, so cumulative subtraction is exact), so
    after the first full aggregate every round touches only
    NODE-cardinality state — count edges into the newly-dropped set
    (one map-side-broadcast scan of the cached edge frame, shuffling
    only the matched rows), subtract, re-threshold.  The edge list is
    materialized once and filtered once at the end against the final
    keep set.  Per-round checkpoints truncate only node-sized frames.
    The forced broadcasts are node-table-sized and unconditional; at
    true scale a billion-node graph would need them as shuffled joins.
    """
    e = edges.select("src", "dst")
    if rounds <= 0:
        return e
    e = e.localCheckpoint(eager=True)
    # scope the loop's shuffles to the (now known) graph size: every
    # round below shuffles NODE-cardinality state, and at the session
    # default (cores-sized locally) per-round task launch dominates —
    # the same discipline connected_components applies. Everything
    # built inside is localCheckpoint-materialized, so restoring the
    # conf on exit cannot affect the returned frame. n_edges is a
    # near-free count of the materialized edge RDD.
    with scoped_shuffle_partitions(e.sparkSession, e.count()):
        return _kcore_peel_rounds(e, k, rounds)


def _kcore_peel_rounds(e: DataFrame, k: int, rounds: int) -> DataFrame:
    """The peel loop of ``kcore_peel`` (split out so the shuffle scope
    wraps it cleanly)."""
    # node table (n, dg, fresh): dg = degree over surviving edges,
    # fresh = crossed below k THIS round (= the next round's drop
    # delta). Already-dropped nodes stay in the table — their dg only
    # ever decreases, so dg >= k remains the exact keep predicate —
    # which keeps each round to TWO jobs: one node-sized checkpoint
    # (whose lineage holds the contrib scan) and one delta count.
    # Degrees from BOTH endpoint columns in one map-side-combinable
    # aggregate (r8, advisor finding): delta maintenance is only exact
    # on a symmetric edge list — a dst-only node would never enter a
    # src-keyed degree table, so its edges would never be subtracted
    # from surviving neighbors. Counting each node's out-rows (dg) and
    # total rows makes per-node in-degree == out-degree checkable for
    # free (tot == 2*dg); that's a NECESSARY condition for symmetry
    # (a directed cycle passes it), but it catches the realistic
    # out-of-contract input — an unmirrored edge list — loudly
    # instead of silently diverging.
    nd = (
        e.select(F.col("src").alias("n"), F.lit(1).alias("o"))
        .unionByName(e.select(F.col("dst").alias("n"), F.lit(0).alias("o")))
        .groupBy("n")
        .agg(F.sum("o").alias("dg"), F.count(F.lit(1)).alias("tot"))
        .localCheckpoint(eager=True)
    )
    if not nd.filter(F.col("tot") != 2 * F.col("dg")).isEmpty():
        raise ValueError(
            "kcore_peel requires a symmetric edge list: found node(s) "
            "with in-degree != out-degree"
        )
    nd = nd.select("n", "dg", (F.col("dg") < k).alias("fresh"))
    for _ in range(rounds - 1):
        if nd.filter(F.col("fresh")).isEmpty():
            break  # monotone: every further round is a no-op
        dropped = nd.filter(F.col("fresh")).select("n")
        contrib = (
            e.join(F.broadcast(dropped), e.dst == F.col("n"))
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("rm"))
            .select(F.col("src").alias("m"), "rm")
        )
        new_dg = F.col("dg") - F.coalesce(F.col("rm"), F.lit(0))
        nd = (
            nd.join(F.broadcast(contrib), nd.n == F.col("m"), "left")
            .select(
                "n",
                new_dg.alias("dg"),
                # was live, now below k: the next round's delta
                ((F.col("dg") >= k) & (new_dg < k)).alias("fresh"),
            )
            .localCheckpoint(eager=True)
        )
    keep = nd.filter(F.col("dg") >= k).select(F.col("n").alias("__keep"))
    return (
        e.join(F.broadcast(keep), e.src == F.col("__keep"))
        .drop("__keep")
        .join(
            F.broadcast(keep.withColumnRenamed("__keep", "__keep2")),
            F.col("dst") == F.col("__keep2"),
        )
        .drop("__keep2")
        # materialized: callers consume the survivor frame more than
        # once (the fixture's convergence probe + final report), and
        # the pre-r7b contract returned a checkpointed frame
        .localCheckpoint(eager=True)
    )


def adamic_adar_scores(
    adj: DataFrame, hub_cap: int | None = None
) -> DataFrame:
    """Adamic–Adar link-prediction scores over a symmetric adjacency.

    ``adj``: deduplicated directed edge list holding BOTH directions
    of each undirected edge (src, dst). Returns one row per unordered
    node pair (u < v) sharing ≥ 1 common neighbor:
    (u, v, cn = common-neighbor count, aa = Σ_z 1/ln(deg z)) —
    Adamic & Adar 2003, "Friends and neighbors on the Web". The
    caller applies any non-adjacency filter and top-k cut.

    Shape (the r6-measured winner): wedges expand IN-PARTITION from
    each center's collected neighbor array with the center's
    1/ln(deg) weight attached as a plain column (deg = size(ns) — no
    separate degree aggregate or join). Exchanges: the groupBy(src)
    that builds neighbor lists + the final (u, v) score shuffle. The
    naive two-leg self-join layout measured 35s vs 2.6s at sf0.1.

    ``hub_cap``: the true-scale hub mitigation (r6 verdict item 8).
    Wedge cost per center is C(deg, 2) — quadratic — while a hub
    center's per-wedge contribution 1/ln(deg) → 0, so centers with
    deg > hub_cap are DROPPED before expansion: wedge count per
    center is bounded by C(hub_cap, 2) (pytest-pinned), making
    worst-case work linear in edges for fixed cap. Score impact is
    quantified per-graph in BASELINE.md §r7: each surviving pair loses at most
    the dropped centers' Σ 1/ln(deg) — a bias, not noise, and
    monotone in the cap. ``None`` = exact (no drop).

    r10 (cell audit): with a cap set, hubs are dropped BEFORE the
    neighbor-list collect via a degree pre-filter (partial-agg count
    + semi join), not after — the old shape materialized a hub's full
    adjacency in ONE array cell first, which is the OOM at 10^8-degree
    hubs that the cap exists to prevent. Kept centers retain all
    their edges, so size(ns) is still the true degree and values are
    bit-identical. Exact mode (None) necessarily materializes true
    cells — that full-cell cost is the documented price of exactness
    and the capped path is the 100 TB configuration.
    """
    if hub_cap is not None:
        deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
        adj = adj.join(
            deg.filter(F.col("__d") <= hub_cap).select("src"),
            "src",
            "left_semi",
        )
    nbrs = adj.groupBy("src").agg(F.collect_list("dst").alias("ns"))
    centers = nbrs.filter(F.size("ns") >= 2)
    wedges = centers.select(
        (F.lit(1.0) / F.log(F.size("ns"))).alias("w"),
        F.explode(
            F.flatten(
                F.transform(
                    "ns",
                    lambda a: F.transform(
                        F.filter("ns", lambda b: b > a),
                        lambda b: F.struct(a.alias("u"), b.alias("v")),
                    ),
                )
            )
        ).alias("p"),
    ).select(F.col("p.u").alias("u"), F.col("p.v").alias("v"), "w")
    return wedges.groupBy("u", "v").agg(
        F.sum("w").alias("aa"), F.count(F.lit(1)).alias("cn")
    )
