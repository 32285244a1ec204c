"""Similarity search over embedding columns (SURVEY.md §7.4).

Two tiers:

- ``brute_force_topk`` — exact cosine top-k: probes (a small frame)
  broadcast against the full embedding table; cosine is a pure
  higher-order-function expression in float64 (no UDF), top-k via the
  grouped-top-k operator (one shuffle on probe id). At 100 TB the
  pattern holds: the probe set is broadcast-sized by construction and
  the scan is embarrassingly parallel.
- ``ivf_topk`` — IVF-style pruned search: vectors are assigned to
  their nearest centroid once (the "index build" — a scan × small
  broadcast); a probe searches only its ``_IVF_NPROBE`` nearest
  centroids' partitions. Deterministic centroid choice (caller
  supplies them) so results are reproducible and oracle-checkable. Recall < 1 by
  design; the oracle replicates the same pruning, so the gate checks
  the ALGORITHM, not approximation error.

`embedding_cosine_pairs` is the near-dup variant (all pairs ≥
``_PAIR_THRESHOLD``) — quadratic; use it on bounded/bucketed inputs
only, which is why it takes a pre-bucketed frame rather than
bucketing internally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import pandas as pd

from .aggregates import ROUND_DIGITS
from .topk import top_k_per_group
from ..runtime import cache_tracked

# Every operator here reads vectors as (vec_id, embedding) — the
# embeddings table's columns — and centroids in the same shape.

_IVF_K = 5  # neighbours per probe in ivf_topk
_IVF_NPROBE = 2  # centroids searched per probe in ivf_topk
_PAIR_THRESHOLD = 0.4  # cosine cut of embedding_cosine_pairs and srp_lsh_pairs


def vector_is_valid():
    """Boolean column: the ``embedding`` vector is non-NULL, all-finite,
    and has a positive L2 norm (see unit_normalize's contract).
    `exists` short-circuits, and the norm check reuses one fold — O(d)
    per row, JVM-side."""
    nonfinite = (
        "exists(embedding, x -> isnan(CAST(x AS DOUBLE)) "
        "OR abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
    )
    sq_norm = (
        "aggregate(embedding, CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    )
    return (
        F.col("embedding").isNotNull()
        & ~F.expr(nonfinite)
        & (F.expr(sq_norm) > 0)
    )


def _rename_vec(df: DataFrame, suffix: str) -> DataFrame:
    return df.select(
        F.col("vec_id").alias(f"id_{suffix}"), F.col("embedding").alias(f"vec_{suffix}")
    )


def unit_normalize(df: DataFrame, out: str | None = None) -> DataFrame:
    """Scale vectors to unit L2 norm (float64). After this, cosine is a
    plain dot product — precomputing norms once per vector instead of
    per pair cuts the pairwise similarity cost to a third.

    Vector-validity contract: a vector is usable iff it is non-NULL,
    every element is finite, and its L2 norm is positive. Invalid
    rows are dropped here, at the single entry point every vector
    operator funnels through — a NULL vector carries no geometry, a
    NaN/Inf element poisons every dot product it touches (and ranks
    FIRST in a Spark top-k, since NaN sorts as the largest double),
    and a zero vector has no direction (its cosine is 0/0). So at
    100 TB a batch of corrupt embeddings degrades coverage, never
    crashes a stage or floods top-k results. Oracles mirror with the
    shared ``valid-embedding`` WHERE fragment."""
    out = out or "embedding"
    df = df.where(vector_is_valid())
    norm = (
        "sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    # let-bind the norm via transform(array(x), nm -> …)[0]: placed
    # directly inside the division lambda it would be re-evaluated per
    # vector element (O(d²) per row — see functions.scalar.word_ngrams
    # for the same Catalyst inlining pitfall). The zero-norm CASE
    # branch below is defensive only: the validity filter above
    # already removed zero vectors (norm > 0).
    return df.withColumn(
        out,
        F.expr(
            f"transform(array({norm}), __nm -> "
            f"transform(embedding, v -> "
            f"CASE WHEN __nm = 0.0D THEN 0.0D "
            f"ELSE CAST(v AS DOUBLE) / __nm END))[0]"
        ),
    )


_DOT_ARROW = None


def _dot_arrow():
    """Arrow-vectorized dot product UDF (numpy einsum per batch).

    A HOF-expression dot stays JVM-side but evaluates element-wise per
    row; for dense pairwise scoring numpy's fused multiply-add over
    Arrow batches is ~5-10× faster. Created lazily: pandas_udf needs an
    active SparkSession.
    """
    global _DOT_ARROW
    if _DOT_ARROW is None:

        @F.pandas_udf("double")
        def dot(a: pd.Series, b: pd.Series) -> pd.Series:
            import numpy as np

            if len(a) == 0:  # np.stack rejects an empty batch
                return pd.Series([], dtype="float64")
            va = np.stack(a.values)
            vb = np.stack(b.values)
            return pd.Series(np.einsum("ij,ij->i", va, vb))

        _DOT_ARROW = dot
    return _DOT_ARROW


def dot_product(a_col: str, b_col: str, arrow: bool = True):
    """Dot product of two (pre-normalized) vector columns."""
    if arrow:
        return _dot_arrow()(F.col(a_col), F.col(b_col))
    return F.expr(
        f"aggregate(zip_with({a_col}, {b_col}, "
        f"(p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


# Pair workspace bound for the in-cell kernels: gathered row-pair
# blocks are capped at this many pairs, so per-task scratch is
# O(_CELL_PAIR_CHUNK x d) doubles regardless of cell size.
_CELL_PAIR_CHUNK = 1 << 16


def _cell_pair_scores(
    assigned: DataFrame,
    *,
    threshold: float | None = None,
    topk: int | None = None,
) -> DataFrame:
    """In-cell pairwise cosine scoring with ONE boundary crossing per
    vector (optimization guide §4.1/§8): the per-cell self-join used
    to materialize every (vec_a, vec_b) pair ROW and ship both
    64-double payloads through ArrowEvalPython per pair — ~2·d·8
    bytes x O(n_c²) pairs of pure serialization (measured 11.7s of
    embeddings_cluster_curation_report's 22s at sf0.1). Here each
    cell's vectors cross the JVM→Python boundary once
    (``applyInPandas`` keyed by the cell id) and the pair expansion
    happens on the numpy side.

    Bit-exactness contract: the kernel stacks the SAME float64 arrays
    Arrow already delivered to ``_dot_arrow`` and evaluates the SAME
    ``np.einsum("ij,ij->i", va, vb)`` on row-gathered pair blocks —
    identical op, dtype and shape class, so every cosine is
    bit-identical to the join formulation, and downstream
    threshold/rank/ROUND decisions cannot flip. Rounding stays
    Spark-side (``F.round`` is HALF_UP; numpy's is half-even).

    Modes (exactly one):
    - ``threshold``: emit (id_a < id_b, __cos) with __cos >= threshold
      — the ``cosine_pairs_within_cells`` body.
    - ``topk``: emit directed (src, dst, __cos), per-src top-k by
      (__cos desc, dst asc) over the cell, self excluded — the
      ``mutual_knn_graph`` directed stage, replicating the
      row_number ordering via a stable lexsort on the identical
      doubles.

    Memory contract: one task holds one cell's id+vector block
    (O(n_c·d) — the same frame the oracle's in-cell window already
    implies) plus an O(_CELL_PAIR_CHUNK·d) gather workspace; the n_c²
    pair stream itself is never materialized at once. Parallelism is
    bounded by the number of cells — the operator's scale contract
    (cells >> cores) already requires that of the centroid set.
    """
    if (threshold is None) == (topk is None):
        raise ValueError("exactly one of threshold/topk must be set")
    import numpy as np

    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in assigned.schema.fields
    )["vec_id"]
    if threshold is not None:
        out_schema = f"id_a {id_type}, id_b {id_type}, __cos double"
    else:
        out_schema = f"src {id_type}, dst {id_type}, __cos double"

    thr = threshold
    k = topk

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {c.split()[0]: [] for c in out_schema.split(", ")}
            )
        # sort by id so the i<j pair expansion and tie-breaks are
        # deterministic regardless of Arrow batch arrival order
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["embedding"].to_numpy())  # (n, d) float64
        out_a: list = []
        out_b: list = []
        out_c: list = []
        # block of source rows per iteration: bounds the gathered
        # pair workspace at block*n <= _CELL_PAIR_CHUNK pairs
        step = max(1, _CELL_PAIR_CHUNK // n)
        for i0 in range(0, n, step):
            i1 = min(i0 + step, n)
            ia = np.repeat(np.arange(i0, i1), n)
            ib = np.tile(np.arange(n), i1 - i0)
            mask = ia < ib if thr is not None else ia != ib
            ia, ib = ia[mask], ib[mask]
            if len(ia) == 0:
                continue
            cos = np.einsum("ij,ij->i", V[ia], V[ib])
            if thr is not None:
                keep = cos >= thr
                out_a.append(ids[ia[keep]])
                out_b.append(ids[ib[keep]])
                out_c.append(cos[keep])
            else:
                # replicate row_number over (__cos desc, dst asc)
                # per src: stable lexsort, last key is primary
                order = np.lexsort((ids[ib], -cos, ia))
                ia_s, ib_s, cos_s = ia[order], ib[order], cos[order]
                # rank within each src run (ia_s is sorted)
                starts = np.flatnonzero(
                    np.r_[True, ia_s[1:] != ia_s[:-1]]
                )
                rank = np.arange(len(ia_s)) - np.repeat(
                    starts, np.diff(np.r_[starts, len(ia_s)])
                )
                keep = rank < k
                out_a.append(ids[ia_s[keep]])
                out_b.append(ids[ib_s[keep]])
                out_c.append(cos_s[keep])
        cols = out_schema.split(", ")
        return pd.DataFrame(
            {
                cols[0].split()[0]: np.concatenate(out_a) if out_a else [],
                cols[1].split()[0]: np.concatenate(out_b) if out_b else [],
                "__cos": np.concatenate(out_c) if out_c else [],
            }
        )

    return (
        assigned.select("centroid_id", "vec_id", "embedding")
        .groupBy("centroid_id")
        .applyInPandas(score_cell, out_schema)
    )


def brute_force_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors per probe (self excluded).

    Output: (probe_id, neighbor_id, cosine). Ranking uses unrounded
    cosine with neighbor_id tie-break; the emitted value is rounded.
    """
    p = _rename_vec(unit_normalize(probes), "probe")
    v = _rename_vec(unit_normalize(vectors), "n")
    scored = (
        v.crossJoin(F.broadcast(p))
        .filter(F.col("id_n") != F.col("id_probe"))
        .withColumn("__cos", dot_product("vec_probe", "vec_n"))
    )
    top = top_k_per_group(
        scored, ["id_probe"], [F.desc("__cos"), F.asc("id_n")], k
    )
    return top.select(
        F.col("id_probe").alias("probe_id"),
        F.col("id_n").alias("neighbor_id"),
        F.round("__cos", ROUND_DIGITS).alias("cosine"),
    )


def assign_to_centroids(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid (max cosine) assignment — the IVF index build.

    Ties break on ascending centroid id. Output: vectors + centroid_id.
    """
    c = _rename_vec(unit_normalize(centroids), "c")
    scored = (
        unit_normalize(vectors, "__nvec")
        .crossJoin(F.broadcast(c))
        .withColumn("__cos", dot_product("__nvec", "vec_c"))
    )
    best = top_k_per_group(scored, ["vec_id"], [F.desc("__cos"), F.asc("id_c")], 1)
    return best.select("vec_id", "embedding", F.col("id_c").alias("centroid_id"))


def ivf_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    probes: DataFrame,
) -> DataFrame:
    """IVF-pruned cosine top-``_IVF_K``: search only the
    ``_IVF_NPROBE`` centroids nearest each probe. Output: (probe_id,
    neighbor_id, cosine)."""
    assigned = unit_normalize(assign_to_centroids(vectors, centroids))
    c = _rename_vec(unit_normalize(centroids), "c")
    p = _rename_vec(unit_normalize(probes), "probe")
    probe_cells = top_k_per_group(
        p.crossJoin(F.broadcast(c)).withColumn(
            "__pcos", dot_product("vec_probe", "vec_c")
        ),
        ["id_probe"],
        [F.desc("__pcos"), F.asc("id_c")],
        _IVF_NPROBE,
    ).select("id_probe", "vec_probe", F.col("id_c").alias("centroid_id"))
    cand = assigned.join(
        F.broadcast(probe_cells), "centroid_id"
    ).filter(F.col("vec_id") != F.col("id_probe"))
    scored = cand.withColumn("__cos", dot_product("vec_probe", "embedding"))
    top = top_k_per_group(
        scored, ["id_probe"], [F.desc("__cos"), F.asc("vec_id")], _IVF_K
    )
    return top.select(
        F.col("id_probe").alias("probe_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.round("__cos", ROUND_DIGITS).alias("cosine"),
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    iters: int = 5,
) -> DataFrame:
    """Deterministic spherical k-means (Lloyd, cosine assignment):
    returns (centroid_id, centroid) after `iters` rounds.

    Init = the unit-normalized vectors of the k smallest ids (stable
    across runs — no RNG). Each round: nearest-centroid assignment
    (reusing the IVF assignment op) then an elementwise mean per
    cluster, computed declaratively: posexplode the vectors, average
    per (cluster, position), fold back into an ordered array. Both
    steps are shuffle-bounded DataFrame ops; the driver loop holds
    only the iteration counter. Empty clusters keep their previous
    centroid (standard Lloyd fallback).
    """
    normed = unit_normalize(vectors)
    centroids = (
        normed.orderBy("vec_id")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("vec_id"))
            .cast("long").alias("vec_id"),
            F.col("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        assigned = assign_to_centroids(normed, centroids)
        means = (
            assigned.select(
                "centroid_id", F.posexplode("embedding").alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("__pm")
            )
            .select(
                "centroid_id",
                F.expr("transform(__pm, s -> s.m)").alias("embedding"),
            )
        )
        # empty clusters: keep previous centroid
        kept = centroids.join(
            means.select(F.col("centroid_id").alias("vec_id")), "vec_id", "left_anti"
        )
        centroids = (
            means.select(F.col("centroid_id").alias("vec_id"), "embedding")
            .unionByName(kept)
            .localCheckpoint(eager=True)
        )
    return centroids.select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )


def cosine_pairs_within_cells(
    vectors: DataFrame, centroids: DataFrame, threshold: float = 0.4
) -> DataFrame:
    """The scale path for embedding near-dup: pair vectors only within
    their IVF cell (nearest-centroid partition) instead of all-pairs.

    Near-duplicates land in the same cell with high probability (their
    cosine to every centroid is nearly equal), so the quadratic blowup
    is bounded per cell — the same partition-then-pair layout the text
    near-dup operators use. Recall < 1 by design (cell-boundary pairs
    are missed); the oracle replicates the identical assignment +
    in-cell pairing, so the gate checks the algorithm.
    """
    # r10 optimization-round reshape (guide §4.1/§8): the former
    # in-cell self-join shipped BOTH vectors through ArrowEvalPython
    # per pair (O(n_c²)·2d doubles of serialization); the per-cell
    # kernel ships each vector once and computes the identical einsum
    # per pair — see _cell_pair_scores for the bit-exactness contract.
    assigned = unit_normalize(assign_to_centroids(vectors, centroids))
    return _cell_pair_scores(assigned, threshold=threshold).select(
        "id_a", "id_b", F.round("__cos", ROUND_DIGITS).alias("cosine")
    )


def semantic_dedup_flags(
    vectors: DataFrame, centroids: DataFrame, threshold: float = 0.4
) -> DataFrame:
    """SemDeDup-style semantic dedup decision (cluster-then-prune, the
    layout of Abbas et al. 2023, arXiv:2303.09540): within each
    nearest-centroid cell, a vector is DROPPED when a smaller-id
    vector in the same cell sits above the cosine threshold — the
    min-id neighborhood representative survives.

    Output: (id, dropped) for EVERY input vector — the linear-output
    dedup action (the pair report stays quarantined in
    ``cosine_pairs_within_cells``). All state is bounded by the
    in-cell pair set; the drop set is a distinct projection of it.
    """
    pairs = cosine_pairs_within_cells(vectors, centroids, threshold)
    dropped = (
        pairs.select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    # invalid vectors are outside the decision (unit_normalize
    # contract), so the flag table also excludes them.
    vectors = vectors.where(vector_is_valid())
    return vectors.select("vec_id").join(dropped, "vec_id", "left").select(
        "vec_id", F.coalesce("__drop", F.lit(False)).alias("dropped")
    )


def embedding_cosine_pairs(vectors: DataFrame) -> DataFrame:
    """All (id_a < id_b) pairs with cosine ≥ ``_PAIR_THRESHOLD`` — embedding
    near-dup detection. Quadratic self-join: bound/bucket the input
    first at scale (e.g. via `assign_to_centroids` and pairing within
    cells)."""
    normed = unit_normalize(vectors)
    a = _rename_vec(normed, "a")
    b = _rename_vec(normed, "b")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("__cos", dot_product("vec_a", "vec_b"))
        .filter(F.col("__cos") >= _PAIR_THRESHOLD)
        .select("id_a", "id_b", F.round("__cos", ROUND_DIGITS).alias("cosine"))
    )


def _srp_plane_weights(planes: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random hyperplane matrix: component (p, j)
    is an integer in [-1000, 1000] derived from md5(f"p_{p}_{j}").
    MD5 is bit-identical everywhere, so any engine (and the DuckDB
    oracle) can regenerate the exact matrix — no RNG state to ship."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"p_{p}_{j}".encode()).hexdigest()[:15], 16)
            % 2001
            - 1000
            for j in range(dim)
        ]
        for p in range(planes)
    ]


# srp_lsh_pairs' banding: _SRP_BANDS tables of _SRP_BITS-bit sign
# codes over _SRP_DIM-dimensional vectors
_SRP_DIM = 64
_SRP_BANDS = 12
_SRP_BITS = 4

_SRP_KERNEL = None


def _srp_kernel():
    """vector → array of `_SRP_BANDS` sign-code bigints, replicating the
    sequential dot-product fold bit-for-bit (see srp_lsh_pairs)."""
    global _SRP_KERNEL
    if _SRP_KERNEL is None:
        import numpy as np

        planes = np.array(
            _srp_plane_weights(_SRP_BANDS * _SRP_BITS, _SRP_DIM), dtype=np.float64
        ).T  # (dim, n_planes)
        bit_vals = np.array([1 << b for b in range(_SRP_BITS)], dtype=np.int64)

        @F.pandas_udf("array<bigint>")
        def kernel(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype="object")
            V = np.stack(vecs.values)  # (n, dim) float64
            acc = np.zeros((V.shape[0], planes.shape[1]))
            # one FMA per dimension keeps the oracle's left-to-right
            # IEEE rounding order — np.dot's blocked summation would
            # not, and a near-zero dot's sign IS the band code
            for j in range(_SRP_DIM):
                acc += V[:, j, None] * planes[j]
            bits = (acc >= 0).reshape(-1, _SRP_BANDS, _SRP_BITS)
            codes = (bits * bit_vals).sum(axis=2, dtype=np.int64)
            return pd.Series(list(codes))

        _SRP_KERNEL = kernel
    return _SRP_KERNEL


def srp_lsh_pairs(vectors: DataFrame) -> DataFrame:
    """Near-neighbour (id_a < id_b, cosine) pairs via banded signed-
    random-projection LSH (Charikar, STOC'02 hyperplane hashes; LSH
    banding per Leskovec/Rajaraman/Ullman ch.3): each of `_SRP_BANDS`
    tables hashes a vector to a `_SRP_BITS`-bit sign code;
    vectors colliding in ANY band become candidates, verified with
    exact cosine >= ``_PAIR_THRESHOLD``. Recall for angle t is
    1 - (1 - (1 - t/pi)^_SRP_BITS)^_SRP_BANDS.

    Scale shape: the plane matrix is tiny (bands*bits x dim ints)
    and is embedded as a literal in the projection - each executor
    computes all band codes with pure arithmetic in one pass, no
    join, no broadcast, no UDF. Candidates come from one equi-join
    on (band, code) after a posexplode; like the IVF path, the
    oracle replicates the identical bucketing, so the gate checks
    the algorithm end-to-end.
    """
    # Band codes via an Arrow numpy kernel. The previous formulation —
    # bands×bits aggregate/zip_with dots, each constructing a 64-element
    # literal array PER ROW — was 5.5s at sf0.1 (BENCH_r01) for what is
    # a 2000×48×64 multiply-add. The kernel reproduces the exact
    # left-to-right fold order per (row, plane) — one FMA step per
    # dimension, same IEEE rounding sequence — so near-zero dots keep
    # the very sign the DuckDB oracle's sequential list_reduce derives.
    # Codes come from the RAW vector (normalizing first would change
    # the float op sequence); normalize only for verification.
    # cached: BOTH sides of the band self-join consume this frame.
    coded = (
        unit_normalize(
            vectors.withColumn(
                "__codes",
                _srp_kernel()(F.col("embedding").cast("array<double>")),
            ),
        )
        .select(
            "vec_id", "embedding", F.posexplode("__codes").alias("__band", "__code")
        )
        .transform(cache_tracked)
    )
    a = coded.select("__band", "__code", F.col("vec_id").alias("id_a"))
    b = coded.select("__band", "__code", F.col("vec_id").alias("id_b"))
    # the multi-band dedup runs on BARE id pairs — carrying the two
    # 64-double vectors through the distinct's exchange would multiply
    # the shuffle volume ~30×; vectors re-attach afterwards via joins
    # on the (dimension-table-sized) normalized frame
    pair_ids = (
        a.join(b, ["__band", "__code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = coded.select("vec_id", "embedding").dropDuplicates(["vec_id"])
    cands = pair_ids.join(_rename_vec(vecs, "a"), "id_a").join(
        _rename_vec(vecs, "b"), "id_b"
    )
    # JVM HOF dot for verification: on weak-similarity corpora the
    # band join yields millions of candidates, and the Arrow UDF would
    # serialize two vectors per pair to Python; the codegen fold keeps
    # verification in the JVM (_SRP_BITS should grow ~log2(n) to keep
    # buckets small — the oracle replicates the same banding)
    return (
        cands.withColumn(
            "__cos", dot_product("vec_a", "vec_b", arrow=False)
        )
        .filter(F.col("__cos") >= _PAIR_THRESHOLD)
        .select("id_a", "id_b", F.round("__cos", ROUND_DIGITS).alias("cosine"))
    )


def _sq_l2(a: str) -> str:
    """Squared L2 distance between double-array column `a` and the
    codebook column ``cv``, as a deterministic left-to-right HOF fold
    (stable summation order)."""
    return (
        f"aggregate(zip_with({a}, cv, (p, q) -> (p - q) * (p - q)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


# pq_adc_topk's quantizer: _PQ_DIM-dimensional vectors cut into _PQ_M
# subspaces with a _PQ_KSUB-entry codebook each; the probes are the
# vectors with id below _PQ_PROBE_IDS_BELOW, answered top-_PQ_K
_PQ_DIM = 64
_PQ_M = 4
_PQ_KSUB = 16
_PQ_PROBE_IDS_BELOW = 5
_PQ_K = 10


def pq_adc_topk(vectors: DataFrame) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011): encode every
    vector as `_PQ_M` subspace codes, then answer top-k by asymmetric
    distance computation (ADC) — probe-to-centroid distance tables
    instead of raw vectors.

    Codebook here is sampling-init (subspace slices of the `_PQ_KSUB`
    smallest-id vectors — deterministic, oracle-checkable); production
    would refine it with the kmeans_fit kernel above. The oracle
    replicates the same codebook and greedy argmin, so the gate checks
    the ENCODE + ADC machinery, not approximation quality.

    100 TB shape: the corpus is touched exactly twice — once to build
    codes (scan × broadcast codebook, map-side-combinable argmin per
    (vector, subspace)) and once in the ADC join (codes × broadcast
    distance table, partial-aggregated sum per (probe, vector)). Raw
    vectors never shuffle; after encoding, each vector is `_PQ_M` small
    ints — the 16× memory-bandwidth win PQ exists for. Probe set is
    broadcast-sized by contract.

    Output: (probe_id, neighbor_id, rank, adc_dist), `_PQ_K` rows per
    probe, rank by (adc asc, neighbor_id asc); self excluded.
    """
    dsub = _PQ_DIM // _PQ_M
    # invalid vectors can't be PQ-encoded (unit_normalize contract).
    vectors = vectors.where(vector_is_valid())
    sub = vectors.select(
        F.col("vec_id"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), s -> struct(s AS s, "
                f"transform(slice(embedding, s * {dsub} + 1, {dsub}), "
                f"v -> CAST(v AS DOUBLE)) AS sv))"
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))

    codebook = sub.filter(F.col("vec_id") < _PQ_KSUB).select(
        F.col("s").alias("cs"), F.col("vec_id").alias("j"), F.col("sv").alias("cv")
    )

    codes = (
        sub.join(F.broadcast(codebook), F.col("s") == F.col("cs"))
        .withColumn("d2", F.expr(_sq_l2("sv")))
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "j")).alias("b"))
        .select("vec_id", "s", F.col("b.j").alias("code"))
    )

    dtable = (
        sub.filter(F.col("vec_id") < _PQ_PROBE_IDS_BELOW)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("s").alias("ps"),
            F.col("sv").alias("pv"),
        )
        .join(F.broadcast(codebook), F.col("ps") == F.col("cs"))
        .withColumn("pd2", F.expr(_sq_l2("pv")))
        .select("probe_id", F.col("ps").alias("s"), F.col("j").alias("code"), "pd2")
    )

    adc = (
        codes.join(F.broadcast(dtable), ["s", "code"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("pd2").alias("adc"))
    )
    top = top_k_per_group(adc, ["probe_id"], [F.asc("adc"), F.asc("vec_id")], _PQ_K)
    return top.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.row_number()
        .over(
            Window.partitionBy("probe_id").orderBy(F.asc("adc"), F.asc("vec_id"))
        )
        .cast("long")
        .alias("rank"),
        F.round("adc", ROUND_DIGITS).alias("adc_dist"),
    )


def mutual_knn_graph(
    vectors: DataFrame, centroids: DataFrame, k: int = 5
) -> DataFrame:
    """Mutual k-nearest-neighbor graph within IVF cells: an edge
    (id_a < id_b, cosine) survives only when each endpoint ranks in
    the OTHER's in-cell top-k by cosine. The symmetric-kNN graph is
    the substrate for density/cluster-based curation (it is what
    SemDeDup-style pruning and graph clustering consume); mutuality is
    the standard asymmetry filter — hub vectors collect thousands of
    inbound kNN edges, but only mutual ones survive, which bounds
    degree by k.

    Scale shape: nearest-centroid assignment (vectors × broadcast
    centroids), in-cell pair scoring (the same cell-bounded quadratic
    as cosine_pairs_within_cells), a grouped top-k rank window keyed
    by source vector, then a self-join of the (n·k)-sized directed
    edge list with itself reversed — every stage is keyed, bounded,
    and shuffle-partitioned; nothing is all-pairs across cells.
    """
    # r10 optimization-round reshape (guide §4.1/§8): the in-cell
    # self-join + row_number window used to ship both 64-double
    # payloads through ArrowEvalPython per candidate pair and then
    # shuffle the n_c²-row scored stream into a rank window; the
    # per-cell kernel ships each vector once, evaluates the identical
    # einsum per pair, and replicates the (cos desc, dst asc)
    # row_number ordering with a stable lexsort on the identical
    # doubles (see _cell_pair_scores) — so the surviving directed
    # edge set is bit-identical while the boundary traffic drops from
    # O(pairs·d) to O(vectors·d) and the window exchange disappears.
    assigned = unit_normalize(assign_to_centroids(vectors, centroids))
    directed = cache_tracked(
        _cell_pair_scores(assigned, topk=k).select(
            F.col("src"), F.col("dst"), "__cos"
        )
    )
    reverse = directed.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return (
        directed.join(reverse, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            F.round("__cos", ROUND_DIGITS).alias("cosine"),
        )
    )
