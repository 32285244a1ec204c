"""Graph-analytics wave: co-occurrence edge building and iterative
PageRank over the aggregated graph.

The 100 TB shape: the quadratic-looking part (items co-purchased in
one order) explodes only within an order (~4 lines -> ~12 directed
pairs), so the edge build is a linear scan plus one shuffle on the
pair key; the ITERATIVE part then runs on the collapsed graph (nodes
= part vocabulary), where each PageRank round is one join + one
aggregate on the edge table — never on the raw facts. The reference
has no graph surface (SURVEY.md §2.5; its one join is the tagged
reduce-side join, reference README.md:437-520).

Oracle notes: PageRank is fully SQL-expressible at fixed iteration
count — the oracle unrolls 3 Jacobi iterations as CTEs (validated
against an independent NumPy reference before registration). Output
ranks are scaled by N and ROUND(.,4) so double-summation low-bit
nondeterminism cannot flip the hash, and top-k ordering uses the
ROUNDED value + partkey so both engines cut the same 20 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import pagerank
from ..sources.catalog import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Co-purchase edge list, top pairs. Directed symmetric pairs within an
# order; weight = number of orders carrying both parts (an order's
# duplicate part lines count multiplicatively, matching the join
# semantics on both engines).
# ---------------------------------------------------------------------------


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One narrow shuffle instead of a shuffle self-join: group the
    order's part list, expand directed pairs in-partition (order size
    is bounded by the schema at ~7 lines, so the per-row quadratic is
    a constant), then count pairs. Semantics identical to the
    self-join on (same order, different part value): duplicate lines
    of a part pair multiplicatively, same-part lines never pair."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("parts")
    )
    pairs = per_order.select(
        F.explode(
            F.flatten(
                F.transform(
                    "parts",
                    lambda a: F.transform(
                        F.filter("parts", lambda b: b != a),
                        lambda b: F.struct(a.alias("src"), b.alias("dst")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.src").alias("src"), F.col("p.dst").alias("dst")
    ).agg(F.count(F.lit(1)).alias("w"))


_COPURCHASE_ORACLE = """
WITH e AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2)
SELECT src, dst, w FROM e
ORDER BY w DESC, src, dst
LIMIT 25
"""


@register("parts_copurchase_pairs_topk", _COPURCHASE_ORACLE)
def parts_copurchase_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    return edges.orderBy(F.desc("w"), "src", "dst").limit(25)


# ---------------------------------------------------------------------------
# PageRank over the co-purchase graph: damping 0.85, exactly 3 Jacobi
# iterations from the uniform vector. The symmetric edge list means no
# dangling nodes, so rank mass is conserved and the fixed-iteration
# unrolled-CTE oracle states the identical computation.
# ---------------------------------------------------------------------------

_PAGERANK_ORACLE = """
WITH e AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2),
nodes AS (SELECT DISTINCT src AS pk FROM e UNION SELECT DISTINCT dst FROM e),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
o AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
c AS (SELECT e.src, e.dst, e.w / o.outw AS frac FROM e JOIN o USING (src)),
r0 AS (SELECT pk, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
r1 AS (
  SELECT n.pk, 0.15 / (SELECT n FROM nn)
         + 0.85 * COALESCE(SUM(p.r * c.frac), 0) AS r
  FROM nodes n LEFT JOIN c ON c.dst = n.pk LEFT JOIN r0 p ON p.pk = c.src
  GROUP BY n.pk),
r2 AS (
  SELECT n.pk, 0.15 / (SELECT n FROM nn)
         + 0.85 * COALESCE(SUM(p.r * c.frac), 0) AS r
  FROM nodes n LEFT JOIN c ON c.dst = n.pk LEFT JOIN r1 p ON p.pk = c.src
  GROUP BY n.pk),
r3 AS (
  SELECT n.pk, 0.15 / (SELECT n FROM nn)
         + 0.85 * COALESCE(SUM(p.r * c.frac), 0) AS r
  FROM nodes n LEFT JOIN c ON c.dst = n.pk LEFT JOIN r2 p ON p.pk = c.src
  GROUP BY n.pk)
SELECT CAST(pk AS BIGINT) AS partkey,
       ROUND(r * (SELECT n FROM nn), 4) AS rank_scaled
FROM r3
ORDER BY rank_scaled DESC, partkey
LIMIT 20
"""


@register("parts_copurchase_pagerank", _PAGERANK_ORACLE)
def parts_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    # pagerank caches the contribution frame internally (the single
    # materialization of the self-join edge build) and returns an
    # eagerly checkpointed rank frame, so counting nodes off the
    # result is free
    ranks = pagerank(edges, iters=3)
    n_nodes = ranks.count()
    scored = ranks.select(
        F.col("pk").alias("partkey"),
        F.round(F.col("r") * F.lit(float(n_nodes)), 4).alias("rank_scaled"),
    )
    return scored.orderBy(F.desc("rank_scaled"), "partkey").limit(20)


# ---------------------------------------------------------------------------
# Triangle counts + local clustering coefficient over the co-purchase
# graph, via degree-ordered orientation (Suri & Vassilvitskii WWW'11):
# out-degree after orientation is O(sqrt m) even under hub skew, so
# the wedge join is O(m^1.5) total — the property that keeps a
# 10^6-neighbor hub survivable. The oracle counts the same triangles
# naively (id-canonical a<b<c three-way join): orientation is a
# physical strategy, the triangle set is the logical result. The
# oracle's naive join is quadratic-in-degree — excluded at sf0.1 like
# the other all-pairs oracles.
# ---------------------------------------------------------------------------

_TRIANGLES_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
d AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e0 e1
  JOIN e0 e2 ON e2.u = e1.v
  JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v),
per AS (
  SELECT a AS n FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t),
pc AS (SELECT n, COUNT(*) AS tri FROM per GROUP BY 1)
SELECT CAST(d.n AS BIGINT) AS node,
       CAST(d.deg AS BIGINT) AS degree,
       CAST(COALESCE(pc.tri, 0) AS BIGINT) AS triangles,
       ROUND(CASE WHEN d.deg >= 2
                  THEN 2.0 * COALESCE(pc.tri, 0) / (d.deg * (d.deg - 1.0))
                  ELSE 0.0 END, 4) AS clustering
FROM d LEFT JOIN pc ON pc.n = d.n
"""


@register("parts_copurchase_triangles", _TRIANGLES_ORACLE)
def parts_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_counts

    edges = _copurchase_edges(spark, sf_dir)
    return triangle_counts(edges)


# ---------------------------------------------------------------------------
# Multi-source BFS hop distance (bounded depth 3) from the sparse seed
# set partkey % 199 == 0, over the co-purchase graph — the
# reachability/radius probe of the iterative-graph family (frontier
# expansion, vs pagerank's fixed-point scoring and CC's label
# propagation). Report = per-hop node count + id checksum, so the
# whole BFS wavefront is value-checked without a node-per-row output.
# Oracle: recursive CTE with UNION (distinct) recursion — the working
# set stays (node, hop)-bounded — then MIN(hop) per node, the textbook
# SQL statement of BFS min-distance.
# ---------------------------------------------------------------------------

_BFS_ORACLE = """
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
seeds AS (SELECT DISTINCT src AS n FROM e WHERE src % 199 = 0),
walk(n, hop) AS (
  SELECT n, 0 FROM seeds
  UNION
  SELECT e.dst, w.hop + 1 FROM walk w JOIN e ON e.src = w.n
  WHERE w.hop < 3),
best AS (SELECT n, MIN(hop) AS hop FROM walk GROUP BY 1)
SELECT CAST(hop AS INT) AS hop,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(n) AS BIGINT) AS node_sum
FROM best GROUP BY 1
"""


@register("parts_copurchase_bfs_hops", _BFS_ORACLE)
def parts_copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_hops

    # distinct unweighted edges: BFS cares about adjacency, not weight.
    # Materialized ONCE: the seed filter plus every frontier-expansion
    # round re-joins this frame, and without truncation each round
    # would re-run the lineitem self-join lineage (measured 11.3s ->
    # ~4s at sf0.1 from this alone).
    edges = (
        _copurchase_edges(spark, sf_dir)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    seeds = edges.filter(F.col("src") % 199 == 0).select(
        F.col("src").alias("n")
    )
    # the co-purchase edge list is symmetric by construction, so the
    # two-frontier anti-join block applies
    reached = bfs_hops(edges, seeds, max_hops=3, undirected=True)
    return reached.groupBy(F.col("hop").cast("int").alias("hop")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("n").alias("node_sum"),
    )


# ---------------------------------------------------------------------------
# Bounded k-core peeling (k=80, 8 rounds) over the co-purchase graph:
# the degeneracy probe of the iterative-graph family — "drop every
# part with fewer than 80 surviving co-purchase partners" iterated to
# (observed) fixpoint. The bounded-round contract keeps the oracle a
# fixed declarative statement at every scale: peeling is monotone, so
# extra rounds past convergence are no-ops, and the `converged` flag
# (round 8 == round 9) reports whether the bound sufficed — at sf0.01
# the graph stabilizes in 6 rounds with a 1857-node 80-core. The
# oracle unrolls the identical 9 rounds as CTEs (generated, like the
# pagerank Jacobi oracle).
# ---------------------------------------------------------------------------

_KCORE_K = 80
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    rounds = []
    for i in range(_KCORE_ROUNDS + 1):  # +1: the convergence probe round
        p, q = f"r{i}", f"r{i + 1}"
        rounds.append(
            f"d{i + 1} AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM {p} GROUP BY 1),\n"
            f"k{i + 1} AS MATERIALIZED (SELECT src FROM d{i + 1} WHERE c >= {_KCORE_K}),\n"
            f"{q} AS MATERIALIZED (SELECT {p}.src, {p}.dst FROM {p}\n"
            f"  JOIN k{i + 1} USING (src)\n"
            f"  JOIN k{i + 1} kk ON {p}.dst = kk.src)"
        )
        last = q
    joined = ",\n".join(rounds)
    final = f"r{_KCORE_ROUNDS}"
    return f"""
WITH r0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
{joined}
SELECT {_KCORE_K} AS k,
       CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(DISTINCT src) AS BIGINT) AS node_sum,
       CAST((SELECT COUNT(DISTINCT src) FROM {last})
            = COUNT(DISTINCT src) AS INT) AS converged
FROM {final}
"""


@register("parts_copurchase_kcore", _kcore_oracle())
def parts_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore_peel

    # materialized once: round 1 scans the edge frame twice (degree
    # aggregate + survivor join) before the loop's own checkpoints
    # take over — without this the lineitem self-join lineage re-runs
    edges = (
        _copurchase_edges(spark, sf_dir)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    core = kcore_peel(edges, _KCORE_K, _KCORE_ROUNDS)
    # convergence probe = one extra threshold round on the survivors,
    # expressed directly (deg agg + broadcast keep filters + distinct
    # count) rather than through kcore_peel, whose materialization
    # contract would checkpoint the already-checkpointed core twice
    # for a result consumed exactly once
    probe_keep = (
        core.groupBy("src")
        .agg(F.count(F.lit(1)).alias("dg"))
        .filter(F.col("dg") >= _KCORE_K)
        .select(F.col("src").alias("__k"))
    )
    n_probe = (
        core.join(F.broadcast(probe_keep), core.src == F.col("__k"))
        .drop("__k")
        .join(
            F.broadcast(probe_keep.withColumnRenamed("__k", "__k2")),
            F.col("dst") == F.col("__k2"),
        )
        .select("src")
        .distinct()
        .count()
    )
    return core.agg(
        F.lit(_KCORE_K).alias("k"),
        F.countDistinct("src").alias("n_nodes"),
        F.count(F.lit(1)).alias("n_edges"),
        F.sum_distinct(F.col("src")).alias("node_sum"),
        (F.countDistinct("src") == F.lit(n_probe)).cast("int").alias(
            "converged"
        ),
    )


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction (r6 wave): for each NON-adjacent part
# pair sharing at least one co-purchase neighbor, score
# AA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1 / ln(deg(z))  (Adamic & Adar 2003,
# "Friends and neighbors on the Web") — the classic common-neighbor
# predictor, weighted so rare shared neighbors count more than hubs.
#
# Graph = co-purchase pairs with line-pair multiplicity ≥ 2 (w from
# _copurchase_edges counts LINEITEM PAIRS, so one order holding the
# same part on two lines can satisfy the floor alone — order-level
# support would need countDistinct(l_orderkey) on both sides; the
# line-pair definition is what both engine and oracle compute): link
# prediction over single-co-occurrence edges scores noise (two parts
# that shared one cart once), and the support floor is also the
# scale lever — the
# full sf0.1 graph has 148M wedges (measured r6: 20k nodes, 1.2M
# edges, max deg 222) while the ≥2-support graph wedges are ~1000×
# fewer. The floor is part of the QUERY DEFINITION, mirrored in the
# oracle — stated, never silently capped.
#
# 100 TB shape: wedges expand IN-PARTITION from each center's
# collected neighbor list (the _copurchase_edges trick), with the
# center's 1/ln(deg) weight attached as a plain column (deg =
# size(neighbors) — no separate degree aggregate or join); output is
# Σ_z deg(z)² rows into one (u, v) score shuffle; the non-adjacency
# check is one left-anti join on the pair key. Hub mitigation at
# true scale is the same knob family as LSH's max_bucket: drop wedge
# centers with deg(z) > D (their 1/ln contribution → 0 while their
# wedge cost is quadratic); not needed under the support floor here.
#
# Determinism: deg(z) is an exact integer; ln(deg) may differ by 1 ulp
# across libm builds, so the score is ROUND(.,4) per the fixture float
# contract and the top-k cut orders by the ROUNDED score + pair key.
# ---------------------------------------------------------------------------

_AA_MIN_SUPPORT = 2

_ADAMIC_ADAR_ORACLE = f"""
WITH e AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_AA_MIN_SUPPORT}),
deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
wedge AS (
  SELECT e1.dst AS u, e2.dst AS v, e1.src AS z
  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst),
score AS (
  SELECT w.u, w.v, SUM(1.0 / ln(d.d)) AS aa, CAST(COUNT(*) AS BIGINT) AS cn
  FROM wedge w JOIN deg d ON d.z = w.z
  WHERE d.d > 1
  GROUP BY w.u, w.v),
nonadj AS (
  SELECT s.* FROM score s
  LEFT JOIN e ON e.src = s.u AND e.dst = s.v
  WHERE e.src IS NULL)
SELECT u AS part_a, v AS part_b, cn AS common_neighbors,
       ROUND(aa, 4) AS aa_score
FROM nonadj
ORDER BY ROUND(aa, 4) DESC, part_a, part_b
LIMIT 20
"""


@register("parts_copurchase_adamic_adar", _ADAMIC_ADAR_ORACLE)
def parts_copurchase_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # support-floored adjacency, both directions (src, dst): keep
    # pairs with co-purchase LINE-PAIR multiplicity >= _AA_MIN_SUPPORT
    # (w counts lineitem pairs, not distinct orders — definition +
    # scale note above)
    adj = (
        _copurchase_edges(spark, sf_dir)
        .filter(F.col("w") >= _AA_MIN_SUPPORT)
        .select("src", "dst")
    )
    from ..runtime import cache_tracked

    adj = cache_tracked(adj)
    # Wedge expansion + scoring = operators/graph.adamic_adar_scores
    # (in-partition expansion from collected neighbor arrays, weight
    # attached pre-expansion; the naive two-leg self-join layout
    # measured 35s vs 2.6s at sf0.1). No hub cap here: the support
    # floor already bounds degrees at tested scales, and the oracle
    # computes the exact (uncapped) definition — the cap knob's
    # measured score-impact/wall trade is in BASELINE.md §r7.
    from ..operators.graph import adamic_adar_scores

    score = adamic_adar_scores(adj, hub_cap=None)
    nonadj = score.join(
        adj,
        (score.u == adj.src) & (score.v == adj.dst),
        "left_anti",
    )
    return (
        nonadj.select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            F.round("aa", 4).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Apriori frequent 3-itemsets (r6 wave; baskets redefined r7; shape
# reworked r7b): basket = a CUSTOMER's distinct part set across their
# order history; L2 = pairs in ≥ MINSUP baskets; a triple's support
# is counted as PER-BASKET TRIANGLES over the frequent-pair edge set
# — for each basket, wedges (a,b),(a,c) of surviving pairs close into
# a triangle iff (b,c) also survives, and support(a,b,c) = number of
# basket-triangles. Monotonicity (Agrawal & Srikant, VLDB'94) makes
# this EXACTLY the Apriori answer: any triple in ≥ MINSUP baskets has
# all three pairs in ≥ MINSUP baskets, so every supporting basket
# contributes exactly one triangle; sub-MINSUP noise dies at the
# final HAVING.
#
# Why triangles (r7b): at sf0.01 the L2 floor of 2 admits 274k
# frequent pairs, and candidate generation (L2 ⋈ L2 on the shared
# first item, then the every-2-subset prune) materializes 27.3M
# candidate triples BEFORE the prune can cut — 93s of driver-scale
# wall (36s of it DuckDB). The triangle form never builds a candidate
# absent from a concrete basket, so its work is wedge-bounded:
# measured oracle wall 0.4s / 1.0s / 4.1s at sf0.001/0.01/0.1 (was
# 1.4s / 36s / 2.0s), identical result rows at all three scales.
# The ENGINE picks between the two shapes per dataset with an exact
# cost statistic (see the branch comment in the fixture) because
# their crossover is real: sparse L2 favors the candidate join
# (sf0.1: 4.7s vs ~8s triangle), dense L2 the triangle form
# (sf0.01: ~4s vs 58s candidate). The ORACLE stays the one fixed
# triangle SQL — worst case 4.1s at any tested scale.
#
# Why customer baskets (r7, verdict item 2): ORDER baskets sparsify
# as the part vocabulary scales with data volume — at sf0.1 no part
# triple recurs in 2 orders, so the sf0.1 run proved only that both
# engines agree on an EMPTY frequent set (a hollow green; the sup3
# stage never executed at bench scale). Customer baskets densify
# honestly — "parts this customer buys together over their history"
# is the standard market-basket unit when transactions are thin —
# and keep support ≥ 2 populated at every tested scale (measured
# sup3 rows: 400k @ sf0.001 / 151k @ sf0.01 / 16k @ sf0.1).
#
# 100 TB shape: the basket-pair expansion is C(|basket|, 2) per
# customer IN-PARTITION from the collected part list (the
# _copurchase_edges trick — no shuffle self-join on the basket key);
# the frequent-pair filter is a semi-join against the (broadcastable
# under AQE) L2 frame; wedges expand in-partition from each basket's
# per-part partner list and close via one semi-join on the
# (basket, b, c) key. Every shuffled frame is frequent-pair- or
# wedge-bounded — never all-candidate-bounded. A whale customer gets
# the same cap/bucketing treatment as the Adamic–Adar hub note.
# Determinism: supports are exact integers; the report orders by
# (support DESC, triple key).
# ---------------------------------------------------------------------------

_TRIPLE_MINSUP = 2

# Plan-selection threshold (exact candidate-triple count from L2
# degree stats): measured statistic is 1.2M @ sf0.001 / 27.3M @
# sf0.01 / 6.5M @ sf0.1; the candidate join measured 4.7s at 6.5M
# (vs ~8s triangle) and 58s+ at 27.3M (vs ~4s triangle), so the cap
# sits at the geometric midpoint of the measured crossover.
_TRIPLE_CAND_CAP = 12_000_000

_TRIPLES_ORACLE = f"""
WITH b AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS o, l_partkey AS p
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL),
bp0 AS MATERIALIZED (
  SELECT x.o, x.p AS a, y.p AS b2
  FROM b x JOIN b y ON x.o = y.o AND x.p < y.p),
l2 AS MATERIALIZED (
  SELECT a, b2 FROM bp0
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_TRIPLE_MINSUP}),
bp AS MATERIALIZED (
  SELECT bp0.o, bp0.a, bp0.b2 FROM bp0 SEMI JOIN l2 USING (a, b2)),
tri AS (
  SELECT e1.o, e1.a, e1.b2 AS b, e2.b2 AS c
  FROM bp e1 JOIN bp e2 ON e1.o = e2.o AND e1.a = e2.a AND e1.b2 < e2.b2
  SEMI JOIN bp e3 ON e3.o = e1.o AND e3.a = e1.b2 AND e3.b2 = e2.b2),
sup3 AS (
  SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS support
  FROM tri GROUP BY 1, 2, 3
  HAVING COUNT(*) >= {_TRIPLE_MINSUP})
SELECT a AS part_a, b AS part_b, c AS part_c, support
FROM sup3
ORDER BY support DESC, part_a, part_b, part_c
LIMIT 20
"""


@register("parts_copurchase_triple_itemsets", _TRIPLES_ORACLE)
def parts_copurchase_triple_itemsets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..runtime import cache_tracked

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # ONE shuffle builds the deduped basket lists: collect_set fuses
    # the (o, p) distinct into the per-basket grouping (a separate
    # .distinct() would be a second full shuffle of the fact join)
    lists = cache_tracked(
        li.filter(F.col("l_partkey").isNotNull())
        .join(
            orders.filter(F.col("o_custkey").isNotNull()).select(
                "o_orderkey", "o_custkey"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .groupBy("o")
        .agg(F.collect_set("p").alias("ps"))
    )
    # basket pairs expand IN-PARTITION from each basket's part set
    # (no shuffle self-join on the basket key); the set semantics make
    # the b > a pair expansion order-insensitive, so the frame is
    # deterministic even though collect_set order is not
    bp0 = lists.select(
        "o",
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda a: F.transform(
                        F.filter("ps", lambda b: b > a),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("q"),
    ).select("o", F.col("q.a").alias("a"), F.col("q.b").alias("b"))
    l2 = cache_tracked(
        bp0.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _TRIPLE_MINSUP)
        .select("a", "b")
    )
    # Cost-based physical-plan selection (both branches are proven
    # result-identical — see the header): the Apriori candidate join
    # materializes EXACTLY sum_a C(deg_a, 2) candidate triples, an
    # exact statistic computable from the (pair-vocabulary-bounded)
    # L2 frame for the cost of one tiny aggregate + a scalar collect.
    # Sparse L2 (bench scale: 6.5M at sf0.1) → candidate join, whose
    # downstream membership joins touch only the pruned candidates;
    # dense L2 (driver scale: 27.3M at sf0.01) → basket-triangle
    # counting, whose work is wedge-bounded instead of
    # candidate-bounded. The same decision an optimizer would make
    # from table stats, made here from the exact statistic.
    # NOTE (r7 advice): this collect makes FIXTURE CONSTRUCTION eager —
    # building the DataFrame runs the basket-pair shuffle + L2
    # aggregate before any action on the result, so explain-only
    # consumers and plan-shape tests pay a real Spark job here. The
    # deliberate price of exact cost-based branching; l2 is cached, so
    # the chosen branch reuses the materialized frame.
    cand_est = (
        l2.groupBy("a")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("c"))
        .collect()[0]["c"]
        or 0
    )
    if cand_est <= _TRIPLE_CAND_CAP:
        # sparse path: candidate generation + every-2-subset Apriori
        # prune, support counted by membership joins on the baskets
        baskets = lists.select("o", F.explode("ps").alias("p"))
        pq = (
            l2.alias("p")
            .join(l2.alias("q"), F.col("p.a") == F.col("q.a"))
            .filter(F.col("p.b") < F.col("q.b"))
            .select(
                F.col("p.a").alias("a"),
                F.col("p.b").alias("b"),
                F.col("q.b").alias("c"),
            )
        )
        cand = pq.join(
            l2.select(F.col("a").alias("b"), F.col("b").alias("c")),
            ["b", "c"],
            "left_semi",
        )
        sup3 = (
            cand.join(baskets.select("o", F.col("p").alias("a")), "a")
            .join(
                baskets.select("o", F.col("p").alias("b")),
                ["o", "b"],
                "left_semi",
            )
            .join(
                baskets.select("o", F.col("p").alias("c")),
                ["o", "c"],
                "left_semi",
            )
            .groupBy("a", "b", "c")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= _TRIPLE_MINSUP)
        )
    else:
        # dense path: frequent basket-pair edges (AQE broadcast-
        # converts the semi join — L2 is pair-vocabulary-bounded);
        # wedges expand in-partition from each (basket, a) partner
        # list and close into triangles iff (o, b, c) is itself a
        # surviving edge — support(a,b,c) = #basket-triangles
        bp = cache_tracked(bp0.join(l2, ["a", "b"], "left_semi"))
        wedges = (
            bp.groupBy("o", "a")
            .agg(F.collect_list("b").alias("ns"))
            .select(
                "o",
                "a",
                F.explode(
                    F.flatten(
                        F.transform(
                            "ns",
                            lambda x: F.transform(
                                F.filter("ns", lambda y: y > x),
                                lambda y: F.struct(
                                    x.alias("b"), y.alias("c")
                                ),
                            ),
                        )
                    )
                ).alias("w"),
            )
            .select(
                "o", "a", F.col("w.b").alias("b"), F.col("w.c").alias("c")
            )
        )
        tri = wedges.join(
            bp.select("o", F.col("a").alias("b"), F.col("b").alias("c")),
            ["o", "b", "c"],
            "left_semi",
        )
        sup3 = (
            tri.groupBy("a", "b", "c")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= _TRIPLE_MINSUP)
        )
    return (
        sup3.select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("c").alias("part_c"),
            "support",
        )
        .orderBy(F.desc("support"), "part_a", "part_b", "part_c")
        .limit(20)
    )
