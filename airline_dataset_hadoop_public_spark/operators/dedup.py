"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md §7.4 extension scope; no reference analog — the reference
is a fixed-query batch pipeline, /root/reference/README.md:141-575).

Four families, all shuffle-bounded and partition-parallel (no
driver-side state), designed so the candidate-generation stage bounds
the quadratic blowup at 100 TB:

- ``exact_dedup``            — hash-groupBy on a normalized key; one
  shuffle, map-side combine.
- ``ngram_jaccard_pairs``    — EXACT set-similarity self-join via
  prefix filtering (Chaudhuri et al., "A Primitive Operator for
  Similarity Joins in Data Cleaning", ICDE'06): if J(x,y) ≥ t, the
  two documents' df-ordered token prefixes of length
  |x| − ⌈t·|x|⌉ + 1 must share a token. Candidates come from an
  equi-join on prefix tokens (rarest-first ordering keeps prefix
  postings short), then exact Jaccard verification. No false
  negatives — the output equals the all-pairs ground truth, which is
  what the DuckDB oracle computes.
- ``minhash_neardup_pairs``  — MinHash + LSH banding (Broder '97;
  Leskovec/Rajaraman/Ullman ch.3): per-doc signature of H hashes,
  banded into B groups of R; docs colliding in any band become
  candidates, verified with exact Jaccard. Probabilistic recall
  1−(1−t^R)^B (≈1−1e-15 at t=0.9, H=128, B=32).
- ``simhash_pairs``          — 64-bit SimHash (Charikar '02) with
  pigeonhole candidate generation: distance ≤ k pairs must agree on
  one of k+1 signature chunks; verified with exact Hamming distance.

Every stage is a DataFrame op (explode / groupBy / join); the hash
primitives are Spark's `xxhash64` (JVM, codegen). The ``_MAX_POSTING``
and ``_MAX_BUCKET`` guards cap pathological posting lists / LSH
buckets — at planet scale a stop-word shingle or an empty-document
cluster would otherwise produce a quadratic join; capped groups are
dropped (count them via the returned metrics if exactness matters).
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, LongType

from .aggregates import ROUND_DIGITS
from ..functions.scalar import tokens, word_ngrams
from ..runtime import cache_tracked, scoped_shuffle_partitions

# Epsilon-guarded ceiling for threshold·size overlap bounds. The IEEE
# product t·n can land one ulp ABOVE the exact value (e.g.
# 0.07 × 100 == 7.000000000000001), and a ceil of that over-tightens
# the prefix/size filters by one — a silent false negative in
# operators whose contract is "exact, no false negatives". The product
# error is bounded by n·2⁻⁵² (< 1e-6 for any real shingle-set size),
# so subtracting 1e-4 can only ever LOOSEN a bound — at worst one
# extra prefix token per document — never tighten it.
_CEIL_EPS = 1e-4


# Scale guards: a prefix token whose posting list holds more than
# _MAX_POSTING documents, or an LSH / SimHash bucket holding more than
# _MAX_BUCKET representatives, is dropped before its equi-join. Neither
# fires on the test corpora.
_MAX_POSTING = 100_000
_MAX_BUCKET = 20_000
# Round bound of the connected-components label loop (it stops earlier
# once no label changes).
_CC_MAX_ITER = 25
# Hamming-distance bound of the SimHash pair and cluster reports
_SIMHASH_MAX_DISTANCE = 3


def _safe_ceil(expr):
    return F.ceil(expr - F.lit(_CEIL_EPS))


def exact_dedup(df: DataFrame, key: str | list[str]) -> DataFrame:
    """One row per duplicate-group: the minimum id plus the group size.

    `key` may be any column(s) — typically a normalized text column or
    a content hash. Single shuffle with map-side partial aggregation.
    """
    keys = [key] if isinstance(key, str) else list(key)
    return df.groupBy(*keys).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _shingled(df: DataFrame, n: int) -> DataFrame:
    """id → distinct n-gram shingle array (sorted for determinism).

    Shingle construction is CPU-bound; a small-file source (one parquet
    row-group → one partition) would serialize it, so fan out to the
    session's parallelism first. The shuffle moves only (id, text).
    """
    # Unconditional repartition to session parallelism: probing the
    # current partition count (df.rdd.getNumPartitions) forces a
    # plan-to-RDD conversion per call, and AQE coalesces any excess
    # partitions at runtime anyway.
    narrow = df.select("doc_id", "text").repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return (
        narrow.select("doc_id", tokens("text").alias("__toks"))
        .withColumn("__sh", F.array_sort(F.array_distinct(word_ngrams("__toks", n))))
        .select("doc_id", "__sh")
    )


def _collapse_identical(
    sh: DataFrame, key: str = "__sh", fingerprint: bool = False
) -> DataFrame:
    """Collapse docs whose `key` column (shingle set / signature) is
    identical into one group: (key, __rep, __members).

    Near-dup corpora are dominated by exact-duplicate clusters; running
    candidate generation per *distinct* set instead of per doc turns a
    c-sized duplicate cluster from O(c²·bands) join rows into 1 row.
    This is the make-or-break step at 100 TB — without it a viral
    document (millions of copies) alone produces a quadratic shuffle.

    With ``fingerprint=True`` (for array-of-string keys) the group key
    is md5 of a canonical serialization — tokens contain no whitespace
    (they come from a ``\\s+`` split), so `concat_ws('\\n')` is
    injective and the 128-bit digest makes accidental group merges a
    2⁻¹²⁸ event. Grouping on a 32-char digest avoids deep array
    hashing/comparison in the aggregate, which dominates otherwise.
    """
    if fingerprint:
        return (
            sh.withColumn("__fp", F.md5(F.concat_ws("\n", key)))
            .groupBy("__fp")
            .agg(
                F.min("doc_id").alias("__rep"),
                F.collect_list("doc_id").alias("__members"),
                F.first(key).alias(key),
            )
            .drop("__fp")
        )
    return sh.groupBy(key).agg(
        F.min("doc_id").alias("__rep"),
        F.collect_list("doc_id").alias("__members"),
    )


def _intra_group_pairs(grp: DataFrame, out_col: str, value) -> DataFrame:
    """All (id_a < id_b) pairs within each duplicate group, with the
    known similarity `value` (identical sets → Jaccard exactly 1.0,
    identical signatures → distance 0). Pure expansion, no verification."""
    return (
        grp.filter(F.size("__members") > 1)
        .select(F.explode("__members").alias("id_a"), "__members")
        .select("id_a", F.explode("__members").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(out_col, F.lit(value))
    )


def _expand_rep_pairs(rep_pairs: DataFrame, grp: DataFrame, val_cols: list[str]) -> DataFrame:
    """Expand verified representative pairs (id_a=repA, id_b=repB, vals)
    to every cross-group member combination. Every member of a group has
    the identical set/signature as its representative, so the similarity
    value carries over exactly."""
    ma = grp.select(F.col("__rep").alias("id_a"), F.col("__members").alias("__ma"))
    mb = grp.select(F.col("__rep").alias("id_b"), F.col("__members").alias("__mb"))
    return (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(*val_cols, F.explode("__ma").alias("__a"), "__mb")
        .select(*val_cols, "__a", F.explode("__mb").alias("__b"))
        .select(
            F.least("__a", "__b").alias("id_a"),
            F.greatest("__a", "__b").alias("id_b"),
            *val_cols,
        )
    )


def _verify_jaccard(cands: DataFrame, shingles: DataFrame, threshold: float) -> DataFrame:
    """Join candidate (id_a, id_b) pairs back to shingle sets and keep
    those with exact Jaccard ≥ threshold."""
    a = shingles.select(
        F.col("doc_id").alias("id_a"), F.col("__sh").alias("__sha")
    )
    b = shingles.select(
        F.col("doc_id").alias("id_b"), F.col("__sh").alias("__shb")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("__sha") + F.size("__shb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", ROUND_DIGITS).alias("jaccard"))
    )


def ngram_jaccard_pairs(df: DataFrame, n: int = 2, threshold: float = 0.2) -> DataFrame:
    """All (id_a < id_b) pairs with word-n-gram Jaccard ≥ threshold.

    Exact (prefix-filter candidates → Jaccard verify). ``_MAX_POSTING``
    drops prefix tokens whose posting list exceeds the cap — a scale
    guard that never triggers on test corpora.
    """
    all_sh = _shingled(df, n).filter(F.size("__sh") > 0)
    grp = _collapse_identical(all_sh, fingerprint=True).transform(cache_tracked)
    intra = _intra_group_pairs(grp, "jaccard", 1.0)
    # Work on 64-bit hashed shingles from here on: prefix filtering only
    # needs SOME consistent global token order, and Jaccard over hashed
    # sets equals Jaccard over the shingles (2⁻⁶⁴ within-pair collision
    # odds). Int posting lists and int array_intersect are far cheaper
    # than their string equivalents.
    sh = (
        grp.select(F.col("__rep").alias("doc_id"), "__sh")
        .withColumn("__hs", F.array_sort(F.expr("transform(__sh, t -> xxhash64(t))")))
        .select("doc_id", "__hs")
        .transform(cache_tracked)
    )
    # cached: tok_df and the rank join both consume the exploded
    # postings — uncached, the shingle-explode lineage runs twice
    posting = sh.select(
        "doc_id", F.size("__hs").alias("__len"), F.explode("__hs").alias("__t")
    ).transform(cache_tracked)
    # global df-order: rarest tokens first → shortest posting lists in
    # the prefix join.
    tok_df = posting.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    ranked = posting.join(tok_df, "__t")
    w = Window.partitionBy("doc_id").orderBy("__df", "__t")
    with_pos = ranked.withColumn("__pos", F.row_number().over(w))
    # prefix length: |x| - ceil(t*|x|) + 1. Cached: both the hot-token
    # guard and the self-join consume it — uncached, the whole
    # posting/ranking lineage would execute twice.
    prefix = (
        with_pos.filter(
            F.col("__pos")
            <= F.col("__len") - _safe_ceil(F.lit(threshold) * F.col("__len")) + 1
        )
        .select("doc_id", "__t", "__len", "__pos")
        .transform(cache_tracked)
    )
    # posting-list cap (scale guard)
    hot = (
        prefix.groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > _MAX_POSTING)
        .select("__t")
    )
    prefix = prefix.join(F.broadcast(hot), "__t", "left_anti")
    pa = prefix.select(
        F.col("doc_id").alias("id_a"), "__t",
        F.col("__len").alias("__la"), F.col("__pos").alias("__xa"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("id_b"), "__t",
        F.col("__len").alias("__lb"), F.col("__pos").alias("__xb"),
    )
    # size filter: J(x,y) ≥ t ⇒ t·|x| ≤ |y| — prunes candidates whose
    # set sizes alone rule out the threshold (no recall loss). On top,
    # PPJoin's positional filter (Xiao et al., "Efficient Similarity
    # Joins for Near Duplicate Detection", WWW'08): a shared prefix
    # token at positions (xa, xb) bounds the overlap by
    # 1 + min(|x|−xa, |y|−xb), which must reach the required overlap
    # ⌈t/(1+t)·(|x|+|y|)⌉ — also lossless, cuts candidates ~35%.
    required = _safe_ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("__la") + F.col("__lb"))
    )
    overlap_ub = 1 + F.least(
        F.col("__la") - F.col("__xa"), F.col("__lb") - F.col("__xb")
    )
    cands = (
        pa.join(pb, "__t")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__lb") >= F.lit(threshold) * F.col("__la"))
            & (F.col("__la") >= F.lit(threshold) * F.col("__lb"))
            & (overlap_ub >= required)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("__hs").alias("__ha"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("__hs").alias("__hb"))
    rep_pairs = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__i", F.size(F.array_intersect("__ha", "__hb")))
        .withColumn(
            "jaccard",
            F.col("__i") / (F.size("__ha") + F.size("__hb") - F.col("__i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", ROUND_DIGITS).alias("jaccard"))
    )
    cross = _expand_rep_pairs(rep_pairs, grp, ["jaccard"])
    return intra.select("id_a", "id_b", "jaccard").unionByName(cross)


def containment_pairs(df: DataFrame, threshold: float = 0.9) -> DataFrame:
    """All ORDERED (id_a, id_b) pairs with word-trigram containment
    C(A,B) = |A∩B| / |A| ≥ threshold, id_a ≠ id_b — "A is mostly
    contained in B". The asymmetric complement of
    ``ngram_jaccard_pairs``: symmetric Jaccard misses a short document
    embedded verbatim inside a much longer one (J is diluted by the
    size gap; C is not), which is exactly the boilerplate-inclusion /
    quote-expansion shape a training-corpus dedup pass must catch.

    Exact up to the ``_MAX_POSTING`` scale guard (which, like the
    Jaccard join's, never triggers on the test corpora — a capped
    container token silently drops candidate pairs whose every other
    contained-side prefix token is also capped, so raise the cap or
    pre-strip boilerplate shingles if that matters). Candidates come
    from an asymmetric prefix filter (Chaudhuri et al., ICDE'06,
    containment variant): if
    C(A,B) ≥ t then B misses at most |A| − ⌈t·|A|⌉ of A's shingles, so
    A's df-rarest prefix of length |A| − ⌈t·|A|⌉ + 1 must share a
    shingle with B's FULL posting list — only the contained side gets
    a prefix, the container side is probed whole (its size carries no
    bound). The only size filter is |B| ≥ ⌈t·|A|⌉ (overlap cannot
    exceed |B|). Verification is exact set intersection over 64-bit
    hashed shingles.

    Same scale shape as the Jaccard join: identical shingle sets are
    collapsed to one representative before candidate generation (so an
    exact-duplicate cluster costs 1 row, not c²), ``_MAX_POSTING`` caps
    the container-side posting lists, and every stage is an
    explode/groupBy/equi-join — no all-pairs product.
    """
    all_sh = _shingled(df, 3).filter(F.size("__sh") > 0)
    grp = _collapse_identical(all_sh, fingerprint=True).transform(
        cache_tracked
    )
    # identical sets: containment 1.0 in BOTH directions (ordered pairs)
    intra = (
        grp.filter(F.size("__members") > 1)
        .select(F.explode("__members").alias("id_a"), "__members")
        .select("id_a", F.explode("__members").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("containment", F.lit(1.0))
    )
    sh = (
        grp.select(F.col("__rep").alias("doc_id"), "__sh")
        .withColumn(
            "__hs", F.array_sort(F.expr("transform(__sh, t -> xxhash64(t))"))
        )
        .select("doc_id", "__hs")
        .transform(cache_tracked)
    )
    # cached: four consumers (df ranking, the rank join, the container
    # side, and the hot-token guard) would otherwise each re-run the
    # shingle explode lineage
    posting = sh.select(
        "doc_id", F.size("__hs").alias("__len"), F.explode("__hs").alias("__t")
    ).transform(cache_tracked)
    tok_df = posting.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    ranked = posting.join(tok_df, "__t")
    w = Window.partitionBy("doc_id").orderBy("__df", "__t")
    with_pos = ranked.withColumn("__pos", F.row_number().over(w))
    # contained-side prefix: |A| − ⌈t·|A|⌉ + 1 df-rarest shingles
    prefix = with_pos.filter(
        F.col("__pos")
        <= F.col("__len") - _safe_ceil(F.lit(threshold) * F.col("__len")) + 1
    ).select("doc_id", "__t", "__len")
    # container side = full postings; cap pathological lists (scale
    # guard — a capped token only loses candidates whose other prefix
    # tokens miss too; never fires on the test corpora)
    full = posting.select("doc_id", "__t", "__len")
    hot = (
        full.groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > _MAX_POSTING)
        .select("__t")
    )
    full = full.join(F.broadcast(hot), "__t", "left_anti")
    pa = prefix.select(
        F.col("doc_id").alias("id_a"), "__t", F.col("__len").alias("__la")
    )
    pb = full.select(
        F.col("doc_id").alias("id_b"), "__t", F.col("__len").alias("__lb")
    )
    cands = (
        pa.join(pb, "__t")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("__lb") >= _safe_ceil(F.lit(threshold) * F.col("__la")))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("__hs").alias("__ha"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("__hs").alias("__hb"))
    rep_pairs = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "containment",
            F.size(F.array_intersect("__ha", "__hb")) / F.size("__ha"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    # member expansion preserves ORIENTATION (contained → container):
    # every member of A's group has A's exact set, likewise B, so the
    # containment value carries over verbatim
    ma = grp.select(
        F.col("__rep").alias("id_a"), F.col("__members").alias("__ma")
    )
    mb = grp.select(
        F.col("__rep").alias("id_b"), F.col("__members").alias("__mb")
    )
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select("containment", F.explode("__ma").alias("id_a"), "__mb")
        .select("containment", "id_a", F.explode("__mb").alias("id_b"))
        .select("id_a", "id_b", "containment")
    )
    return (
        intra.select("id_a", "id_b", "containment")
        .unionByName(cross)
        .withColumn("containment", F.round("containment", ROUND_DIGITS))
    )


_MINHASH_KERNELS: dict[tuple[int, int], object] = {}

_SM_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(z: "np.ndarray") -> "np.ndarray":
    """SplitMix64 finalizer (Steele/Lea/Flood, OOPSLA'14) — the
    public-domain 64-bit avalanche mix; vectorized, wraps mod 2^64."""
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _minhash_band_kernel(num_hashes: int, bands: int):
    """array of shingle hashes → array of `bands` LSH band keys.

    Per seed s: sig[s] = min over shingles of splitmix64(h ^ (s+1)·φ);
    band key = splitmix64 fold of the band's signature rows seeded by
    the band index. All uint64 arithmetic, one `minimum.reduceat` per
    seed over the Arrow batch's flattened shingle hashes."""
    key = (num_hashes, bands)
    if key not in _MINHASH_KERNELS:
        rpb = num_hashes // bands

        def band_keys(batch: pd.Series) -> pd.Series:
            if len(batch) == 0:
                return pd.Series([], dtype="object")
            # uint64 wraparound is the hash semantics, not an error —
            # scoped with errstate so the suppression does not leak to
            # every other numpy kernel sharing this worker process
            with np.errstate(over="ignore"):
                lens = np.fromiter((len(x) for x in batch), dtype=np.int64)
                flat = np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in batch]
                )
                flat = flat.view(np.uint64)
                starts = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                sig = np.empty((num_hashes, len(lens)), dtype=np.uint64)
                for s in range(num_hashes):
                    vals = _splitmix64(flat ^ (np.uint64(s + 1) * _SM_GOLDEN))
                    sig[s] = np.minimum.reduceat(vals, starts)
                bk = np.zeros((bands, len(lens)), dtype=np.uint64)
                grouped = sig.reshape(bands, rpb, len(lens))
                for b in range(bands):
                    acc = np.uint64(b + 1) * _SM_GOLDEN
                    h = np.full(len(lens), acc, dtype=np.uint64)
                    for r in range(rpb):
                        h = _splitmix64(h ^ grouped[b, r])
                    bk[b] = h
                out = np.ascontiguousarray(bk.T).view(np.int64)
            return pd.Series(list(out))

        @F.pandas_udf("array<bigint>")
        def kernel(batch: pd.Series) -> pd.Series:
            return band_keys(batch)

        _MINHASH_KERNELS[key] = kernel
    return _MINHASH_KERNELS[key]




def _hashed_reps(grp: DataFrame) -> DataFrame:
    """Representative id → sorted int64-hashed shingle set (cached).

    One string hash per shingle; the same int-hash array backs BOTH
    the signature kernel and exact-Jaccard verification (Jaccard over
    64-bit hashed shingles equals Jaccard over the shingles up to a
    ~2⁻⁶⁴ within-pair collision, and int array_intersect is far
    cheaper than string array_intersect)."""
    return cache_tracked(
        grp.select(F.col("__rep").alias("doc_id"), "__sh")
        .withColumn(
            "__hs", F.array_sort(F.expr("transform(__sh, t -> xxhash64(t))"))
        )
        .select("doc_id", "__hs")
    )


def _banded(reps: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Banded signature frame: (id, set length, band, band key)."""
    return reps.select(
        "doc_id",
        F.size("__hs").alias("__len"),
        F.posexplode(
            _minhash_band_kernel(num_hashes, bands)("__hs")
        ).alias("band", "bkey"),
    )


def _lsh_candidates(
    banded_probe: DataFrame,
    banded_universe: DataFrame,
    threshold: float,
    max_bucket: int,
    symmetric: bool,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b when symmetric) from the
    banded LSH frames — the UNVERIFIED stage, exposed separately so
    candidate volume is measurable per (bands, rows) configuration
    and the hot-bucket cap is testable.

    Hot-bucket guard: any (band, bkey) bucket holding more than
    ``max_bucket`` universe rows is dropped wholesale BEFORE the
    bucket equi-join, so per-bucket join fan-out is bounded by
    max_bucket (self-join: ≤ max_bucket·(max_bucket−1)/2 pairs) and a
    degenerate corpus (one shingle-set shared by millions of docs —
    which arrives here as a single collapsed rep, but adversarial
    band collisions can still pile up) cannot create a quadratic
    bucket. Cost: a true near-dup whose EVERY band lands in a hot
    bucket is missed — the cap trades bounded worst-case shuffle for
    recall on pathological clusters, and recall on ordinary corpora
    is unaffected (buckets are splitmix64-fold keys of full band
    signatures, so honest buckets are collision-sparse).
    """
    big = (
        banded_universe.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket)
        .select("band", "bkey")
    )
    pa_frame = banded_probe.join(F.broadcast(big), ["band", "bkey"], "left_anti")
    pb_frame = (
        pa_frame
        if symmetric
        else banded_universe.join(F.broadcast(big), ["band", "bkey"], "left_anti")
    )
    pa = pa_frame.select(
        F.col("doc_id").alias("id_a"), F.col("__len").alias("__la"), "band", "bkey"
    )
    pb = pb_frame.select(
        F.col("doc_id").alias("id_b"), F.col("__len").alias("__lb"), "band", "bkey"
    )
    id_pred = (
        (F.col("id_a") < F.col("id_b"))
        if symmetric
        else (F.col("id_a") != F.col("id_b"))
    )
    return (
        pa.join(pb, ["band", "bkey"])
        .filter(
            id_pred
            & (F.col("__lb") >= F.lit(threshold) * F.col("__la"))
            & (F.col("__la") >= F.lit(threshold) * F.col("__lb"))
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )


def _rep_neardup_edges(
    reps_probe: DataFrame,
    threshold: float,
    num_hashes: int,
    bands: int,
    reps_universe: DataFrame | None = None,
    banded_probe: DataFrame | None = None,
    banded_universe: DataFrame | None = None,
) -> DataFrame:
    """Verified rep-level near-dup edges (id_a < id_b, jaccard ≥
    threshold) — the one candidate/guard/verify pipeline behind the
    pair report, the cluster report, and the incremental probe.

    Self-join when ``reps_universe`` is None; otherwise probe ×
    universe, where the universe must CONTAIN the probe reps (so
    probe-probe pairs are found too). Pre-banded frames may be passed
    (the persisted-index path); otherwise they are derived and cached
    here. Stages: hot-bucket guard over the universe bands → bucket
    equi-join → size filter (J ≥ t ⇒ t·|x| ≤ |y|, pruned BEFORE the
    distinct) → exact-Jaccard verification on the hashed sets.
    """
    if banded_probe is None:
        banded_probe = cache_tracked(_banded(reps_probe, num_hashes, bands))
    symmetric = reps_universe is None
    if symmetric:
        reps_universe = reps_probe
        banded_universe = banded_probe
    cands = _lsh_candidates(
        banded_probe, banded_universe, threshold, _MAX_BUCKET, symmetric
    )
    a = reps_universe.select(
        F.col("doc_id").alias("id_a"), F.col("__hs").alias("__ha")
    )
    b = reps_universe.select(
        F.col("doc_id").alias("id_b"), F.col("__hs").alias("__hb")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__i", F.size(F.array_intersect("__ha", "__hb")))
        .withColumn(
            "jaccard",
            F.col("__i") / (F.size("__ha") + F.size("__hb") - F.col("__i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", ROUND_DIGITS).alias("jaccard"))
    )


def minhash_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """Near-duplicate (id_a < id_b) pairs via MinHash+LSH banding over
    word shingles, verified with exact Jaccard ≥ threshold.

    LSH runs over distinct shingle sets only (duplicate-group
    collapse, keyed by representative); signature + band keys come
    from one Arrow numpy kernel (``_minhash_band_kernel``); the
    candidate/guard/verify pipeline is the shared
    ``_rep_neardup_edges``. Intra-group pairs carry Jaccard exactly
    1.0; verified rep pairs expand to all member combinations.

    Tuning ``bands``/``rows = num_hashes // bands`` (measured A/B in
    BASELINE.md r6): per-pair candidate
    probability is 1-(1-J^rows)^bands, so more rows per band steepens
    the S-curve at the threshold. On a corpus whose near-miss mass
    sits just below threshold (the banded-LSH worst case), 16×8 cut
    candidate volume 6.2× vs the 32×4 default with zero measured
    recall loss at t=0.9; 8×16 cut it 30× but dropped 7.6% of true
    pairs. Keep rows=4 when downstream needs per-pair miss ≲ 1e-11
    (oracle-equality regime); raise rows when candidate shuffle
    dominates and ~1e-4 miss at the threshold is acceptable.
    ``_MAX_BUCKET`` bounds any (band, bucket) to that many reps —
    worst-case join fan-out per bucket is C(_MAX_BUCKET, 2) — at the
    cost of recall only on clusters hot in EVERY band.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sh = _shingled(df, 1).filter(F.size("__sh") > 0)
    grp = _collapse_identical(sh, fingerprint=True).transform(cache_tracked)
    intra = _intra_group_pairs(grp, "jaccard", 1.0)
    reps = _hashed_reps(grp)
    rep_pairs = _rep_neardup_edges(reps, threshold, num_hashes, bands)
    cross = _expand_rep_pairs(rep_pairs, grp, ["jaccard"])
    return intra.select("id_a", "id_b", "jaccard").unionByName(cross)


def _cc_local_solve(sym: DataFrame, declared: DataFrame) -> DataFrame:
    """Single-task union-find over a small symmetrized edge list.

    All edges plus declared-node marker rows hash to ONE constant
    group, so the solve runs as one ``applyInPandas`` task on an
    executor (the gate in ``connected_components`` bounds its size).
    Semantics match the label-propagation loop exactly: undeclared
    edge endpoints relay connectivity but neither appear in the
    output nor contribute their ids to labels — the component label
    is the min DECLARED node id.
    """
    node_t = declared.schema["node"].dataType
    edge_t = sym.schema["a"].dataType
    # carrier type for the solve: never narrow an id (a downcast could
    # wrap an out-of-range relay id onto a declared id and fabricate a
    # connection). Mixed integral widths widen to bigint; any other
    # mismatch is a caller error.
    if node_t == edge_t:
        carrier = node_t
    elif isinstance(node_t, IntegralType) and isinstance(edge_t, IntegralType):
        carrier = LongType()
    else:
        raise ValueError(
            f"node type {node_t.simpleString()} and edge endpoint type "
            f"{edge_t.simpleString()} are incompatible"
        )
    # a NULL endpoint never relays in the label-propagation loop
    # (null join keys match nothing), and a NULL declared node never
    # reaches the output — drop both so the pandas batch also stays
    # non-nullable (a nullable int column would arrive as float64 and
    # corrupt ids above 2^53)
    edge_rows = sym.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    ).select(
        F.col("a").cast(carrier).alias("a"),
        F.col("b").cast(carrier).alias("b"),
        F.lit(False).alias("declared"),
    )
    marker_rows = declared.filter(F.col("node").isNotNull()).select(
        F.col("node").cast(carrier).alias("a"),
        F.col("node").cast(carrier).alias("b"),
        F.lit(True).alias("declared"),
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"node": [], "component": []})
        a = pdf["a"].to_numpy()
        b = pdf["b"].to_numpy()
        dec = pdf["declared"].to_numpy()
        ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ia, ib = inv[: len(a)], inv[len(a) :]
        parent = np.arange(len(ids))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        # ids are sorted by np.unique, so index order == id order;
        # attaching the larger root under the smaller keeps every
        # root the min index (= min id) of its tree
        for x, y in zip(ia.tolist(), ib.tolist()):
            rx, ry = find(x), find(y)
            if rx != ry:
                if rx < ry:
                    parent[ry] = rx
                else:
                    parent[rx] = ry
        di = ia[dec]  # marker rows have a == b == the declared node
        roots = np.array([find(int(i)) for i in di], dtype=np.int64)
        lbl = (
            pd.DataFrame({"r": roots, "id": ids[di]})
            .groupby("r")["id"]
            .transform("min")
        )
        return pd.DataFrame({"node": ids[di], "component": lbl.to_numpy()})

    t = carrier.simpleString()
    out = (
        edge_rows.unionByName(marker_rows)
        .groupBy(F.lit(0).alias("__g"))
        .applyInPandas(solve, f"node {t}, component {t}")
    )
    # labels are declared ids, so the cast back to the caller's node
    # type is lossless
    return out.select(
        F.col("node").cast(node_t).alias("node"),
        F.col("component").cast(node_t).alias("component"),
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    local_solve_max_edges: int = 1_000_000,
) -> DataFrame:
    """(node, component) — min-id label propagation with pointer
    jumping over an undirected (id_a, id_b) edge set. The dedup ACTION step:
    near-dup pairs → duplicate clusters → one canonical id per
    cluster (min id).

    Two-level strategy: the input here is the COLLAPSED representative
    graph (one node per distinct signature/shingle-set), which after
    dedup's group collapse is typically orders of magnitude smaller
    than the corpus. When its symmetrized edge list fits a single task
    (≤ ``local_solve_max_edges``, measured — the counts are free, the
    frames are already materialized), the component labels come from
    one union-find pass inside a single ``applyInPandas`` task —
    executor-side, not a driver collect — instead of O(log diameter)
    shuffle rounds whose per-round job overhead dominates at this
    size. The gate compares the SYMMETRIZED edge count — 2x the
    caller's undirected edges — so the default admits up to 500k input
    edges. Graphs above the gate take the label-propagation loop below,
    which is the 100 TB path (cf. Kiveris et al., "Connected
    Components in MapReduce and Beyond" — iterate only while the
    contracted graph exceeds one worker).

    Each round HOOKS (every node takes the min of its own and its
    neighbors' labels — one join + one aggregate) then SHORTCUTS
    (lbl ← lbl(lbl): labels are node ids, so a self-join compresses
    label chains — classic pointer jumping). Hook alone converges in
    O(component diameter) rounds, which is fatal for chain-shaped
    components (observed: 9 rounds on the sf0.1 simhash graph; a
    1M-long chain at 100 TB would never finish); hook+shortcut is
    O(log diameter) (cf. the MapReduce CC literature, Kiveris et al.).
    Converged when no label changes; ``_CC_MAX_ITER`` rounds is a
    safety bound.
    Edge endpoints missing from `nodes` act as relays (labels propagate
    through them) but are excluded from the output.
    Per-round lineage is truncated with localCheckpoint — without it
    the plan doubles each iteration. The convergence check is a
    driver-side count (one scalar), not a data collect.

    The label loop's shuffles are scoped (``runtime.scoped_shuffle_partitions``)
    to a partition count sized by the LARGER of the REPRESENTATIVE
    graph's node and edge counts (known after the edge
    materialization; a sparse graph still shuffles the full label
    table every round), not the session default: the loop runs many
    small jobs, and when the corpus-sized default exceeds the graph,
    task-launch overhead dominates (measured 2x on the sf0.1 graph).
    Everything inside is materialized eagerly, so restoring the
    setting on exit cannot affect the returned (already-checkpointed)
    frame. Caveat: the setting is session-global for the loop's
    duration, so OTHER queries running concurrently on the same
    SparkSession would inherit the shrunken count — this engine runs
    queries sequentially per session (bench and the driver both do);
    callers sharing a session across threads should clone it via
    ``spark.newSession()``.
    """
    # Materialize the symmetrized edge list ONCE: it is consumed by
    # every iteration, and without the checkpoint each iteration would
    # re-execute the whole upstream candidate-pair pipeline (this was
    # 5/6 of dedup_connected_canonical's runtime).
    sym = (
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .unionByName(edges.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        .localCheckpoint(eager=True)
    )
    n_edges = sym.count()
    # checkpoint the declared node list once: the gate count, the
    # local solve's marker rows, the loop's initial labels, and the
    # final output join all reuse it — without this the nodes
    # lineage (often a full upstream pipeline) would re-execute for
    # each of those consumers
    # distinct: callers today pass unique ids, but a duplicated id in
    # `nodes` would otherwise emit duplicate (node, component) rows
    # from both the local-solve marker path and the final output join
    declared = (
        nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = declared.count()  # near-free scan of the materialized RDD
    if max(n_nodes, n_edges) <= local_solve_max_edges:
        return _cc_local_solve(sym, declared)
    labels = declared.select("node", F.col("node").alias("lbl"))
    with scoped_shuffle_partitions(nodes.sparkSession, max(n_nodes, n_edges)):
        for _ in range(_CC_MAX_ITER):
            # hook: min over self + neighbors
            msgs = sym.join(
                labels.select(F.col("node").alias("b"), "lbl"), "b"
            ).select(F.col("a").alias("node"), "lbl", F.lit(None).alias("old"))
            # carry each node's previous label through the same
            # aggregation so convergence detection is a narrow scan of
            # the checkpointed result, not an extra shuffled join
            hooked = (
                labels.withColumn("old", F.col("lbl"))
                .unionByName(msgs)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"), F.min("old").alias("old"))
            )
            # shortcut: lbl ← lbl(lbl). Labels are node ids and
            # lbl(x) ≤ x is invariant (min includes self), so the
            # parent's label is a same-component, never-larger id.
            par = hooked.select(
                F.col("node").alias("lbl"), F.col("lbl").alias("__plbl")
            )
            new_labels = (
                hooked.join(par, "lbl", "left")
                .select(
                    "node",
                    F.least(
                        "lbl", F.coalesce("__plbl", "lbl")
                    ).alias("lbl"),
                    "old",
                )
                .localCheckpoint(eager=True)
            )
            # a node's FIRST appearance (an edge endpoint the caller's
            # node table omits — old is null) must count as a change:
            # such relays join the label table mid-run, and stopping
            # the round they appear would leave their labels
            # half-propagated (a connected component would split)
            changed = new_labels.filter(
                (F.col("lbl") < F.col("old")) | F.col("old").isNull()
            ).count()
            labels = new_labels.select("node", "lbl")
            if changed == 0:
                break
    # undeclared relay endpoints served propagation; only declared
    # nodes appear in the result
    return labels.join(declared, "node").select(
        "node", F.col("lbl").alias("component")
    )


def simhash_signature(df: DataFrame, portable_hash: bool = False) -> DataFrame:
    """id → 64-bit SimHash of the document's word shingle set.

    ``portable_hash=True`` swaps the per-shingle hash from xxhash64
    (fast, JVM codegen — the production default) to a 60-bit integer
    derived from md5's first 15 hex digits. MD5 is bit-identical in
    every engine, which makes the whole signature reproducible in the
    DuckDB oracle; the top 4 signature bits are then constant-zero on
    both sides, so Hamming distances are unaffected.
    """
    shingle_hash = (
        "t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)"
        if portable_hash
        else "t -> xxhash64(t)"
    )
    sh = (
        _shingled(df, 1)
        .filter(F.size("__sh") > 0)
        # hash shingles JVM-side (codegen'd scalar funcs) once up front
        .withColumn("__hs", F.expr(f"transform(__sh, {shingle_hash})"))
    )
    # Vote tally + bit packing in an Arrow numpy kernel: the original
    # aggregate/zip_with formulation over 64-wide arrays is both the
    # slowest interpreted HOF in the repo and a multi-second codegen
    # compile on first run (BENCH_r01's 15.6s dedup_simhash). Hashes
    # arrive as signed int64; the kernel's uint64 view keeps the bit
    # semantics of the JVM's two's-complement shifts.
    return sh.select("doc_id", _simhash_kernel()("__hs").alias("simhash"))


_SIMHASH_KERNEL = None


def _simhash_kernel():
    global _SIMHASH_KERNEL
    if _SIMHASH_KERNEL is None:

        def sig(hs) -> int:
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            # bits: (m shingles × 64) 0/1; votes[j] = 2*ones - m > 0
            ones = (
                (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            ).sum(axis=0, dtype=np.int64)
            mask = (2 * ones - len(h)) > 0
            return int(
                np.bitwise_or.reduce(
                    (np.uint64(1) << np.arange(64, dtype=np.uint64))[mask],
                    initial=np.uint64(0),
                ).view(np.int64)
            )

        @F.pandas_udf("bigint")
        def kernel(batches: pd.Series) -> pd.Series:
            return batches.map(sig)

        _SIMHASH_KERNEL = kernel
    return _SIMHASH_KERNEL


def simhash_pairs(df: DataFrame, portable_hash: bool = False) -> DataFrame:
    """(id_a < id_b, distance) pairs with SimHash Hamming distance ≤
    k = ``_SIMHASH_MAX_DISTANCE``.

    Pigeonhole candidates: split the 64-bit signature into k+1 chunks;
    any pair within distance k agrees on at least one chunk → equi-join
    per chunk, then exact popcount verification. (Manku/Jain/Sarma,
    WWW'07 — the standard web-scale simhash dedup layout.)
    """
    sigs = simhash_signature(df, portable_hash=portable_hash)
    # Collapse identical signatures: distance is a pure function of the
    # signature, so candidate generation runs once per distinct value
    # (intra-group pairs have distance 0 by construction).
    grp = _collapse_identical(sigs, key="simhash").transform(cache_tracked)
    intra = _intra_group_pairs(grp, "distance", 0).withColumn(
        "distance", F.col("distance").cast("long")
    )
    reps = grp.select(F.col("__rep").alias("doc_id"), "simhash")
    rep_pairs = _simhash_rep_edges(reps)
    cross = _expand_rep_pairs(rep_pairs, grp, ["distance"])
    return intra.select("id_a", "id_b", "distance").unionByName(cross)


def _simhash_rep_edges(reps: DataFrame) -> DataFrame:
    """Verified (id_a < id_b, distance ≤ k) pairs over REPRESENTATIVE
    signatures — the shared candidate/guard/verify stage behind both
    the pair report (simhash_pairs) and the cluster report
    (simhash_clusters), mirroring ``_rep_neardup_edges`` for minhash."""
    chunks = _SIMHASH_MAX_DISTANCE + 1
    width = 64 // chunks
    chunked = reps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {chunks - 1}), "
                f"c -> struct(c AS chunk, "
                f"(shiftright(simhash, c * {width}) & "
                f"{(1 << width) - 1}) AS ckey))"
            )
        ).alias("__c"),
    ).select("doc_id", "simhash", "__c.chunk", "__c.ckey")
    big = (
        chunked.groupBy("chunk", "ckey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > _MAX_BUCKET)
        .select("chunk", "ckey")
    )
    chunked = chunked.join(F.broadcast(big), ["chunk", "ckey"], "left_anti")
    ca = chunked.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("__ha"), "chunk", "ckey"
    )
    cb = chunked.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("__hb"), "chunk", "ckey"
    )
    rep_pairs = (
        ca.join(cb, ["chunk", "ckey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ha", "__hb")
        .distinct()
        .withColumn("distance", F.bit_count(F.expr("__ha ^ __hb")))
        .filter(F.col("distance") <= _SIMHASH_MAX_DISTANCE)
        .select("id_a", "id_b", F.col("distance").cast("long").alias("distance"))
    )
    return rep_pairs


def simhash_clusters(df: DataFrame, portable_hash: bool = False) -> DataFrame:
    """(id, canonical) SimHash near-dup clusters WITHOUT materializing
    the quadratic pair report — the dedup ACTION a 100 TB corpus runs.

    Label propagation runs on the collapsed SIGNATURE graph (one node
    per distinct 64-bit signature's representative, verified rep-level
    edges from the shared ``_simhash_rep_edges``); members inherit the
    representative's component label, so state and output stay linear
    in documents even when one document has millions of copies.
    Mirrors ``minhash_neardup_clusters``: each group's representative
    is its min id and the component label is the min representative,
    so the inherited label equals the min doc id over the cluster —
    the same contract as CC over the expanded pair graph.
    """
    sigs = simhash_signature(df, portable_hash=portable_hash)
    grp = cache_tracked(_collapse_identical(sigs, key="simhash"))
    reps = grp.select(F.col("__rep").alias("doc_id"), "simhash")
    rep_edges = _simhash_rep_edges(reps).select("id_a", "id_b")
    comp = connected_components(
        reps.select(F.col("doc_id").alias("node")), rep_edges
    )
    return (
        grp.select(F.col("__rep").alias("node"), "__members")
        .join(comp, "node")
        .select(
            F.explode("__members").alias("doc_id"),
            F.col("component").alias("canonical"),
        )
    )


# Signature shape of the persisted LSH index: INDEX_BANDS bands of
# INDEX_NUM_HASHES // INDEX_BANDS rows over word shingles. A persisted
# index is only valid for the shape it was built with.
INDEX_NUM_HASHES = 96
INDEX_BANDS = 24


def minhash_build_index(base: DataFrame) -> dict[str, DataFrame]:
    """Build the persistable LSH index of a corpus: duplicate-group
    table, per-representative hashed shingle sets, and the banded
    signature frame. In production these three frames ARE the index —
    materialized tables maintained across ingest batches (band frame
    keyed by (band, bkey)); rebuilding happens only on a change of
    signature shape. ``minhash_probe_index`` consumes them per delta
    batch.
    """
    sh = _shingled(base, 1).filter(F.size("__sh") > 0)
    grp = cache_tracked(_collapse_identical(sh, fingerprint=True))
    reps = _hashed_reps(grp)
    return {
        "grp": grp.select("__rep", "__members"),
        "reps": reps,
        "banded": _banded(reps, INDEX_NUM_HASHES, INDEX_BANDS),
    }


def minhash_probe_index(index: dict[str, DataFrame], delta: DataFrame) -> DataFrame:
    """Probe a prebuilt LSH index with a delta batch: all pairs
    (id_a < id_b, jaccard >= 0.9) touching the delta — new docs
    vs the indexed corpus and vs each other. The incremental ingest
    loop: per batch the work is O(|delta| + collisions), never
    O(|base|²), and both sides are duplicate-group collapsed so the
    collision volume is linear in DISTINCT shingle sets (without the
    collapse a 4×-duplicated corpus showed 8× runtime for 16× output;
    with it the 4× run is flat).

    Identical shingle sets produce identical signatures, so they
    collide in EVERY band: exact-duplicate deltas (intra-delta groups,
    or a delta group equal to an indexed group) are caught
    deterministically. Candidate/guard/verify logic is the shared
    ``_rep_neardup_edges`` (probe × universe form).
    """
    d = minhash_build_index(delta)
    grp_d, reps_d = d["grp"], d["reps"]
    probe = cache_tracked(d["banded"])
    intra = _intra_group_pairs(grp_d, "jaccard", 1.0)

    rep_pairs = _rep_neardup_edges(
        reps_d,
        0.9,
        INDEX_NUM_HASHES,
        INDEX_BANDS,
        reps_universe=index["reps"].unionByName(reps_d),
        banded_probe=probe,
        banded_universe=index["banded"].unionByName(probe),
    )
    grp_all = index["grp"].unionByName(grp_d)
    cross = _expand_rep_pairs(rep_pairs, grp_all, ["jaccard"])
    return intra.select("id_a", "id_b", "jaccard").unionByName(
        cross.select("id_a", "id_b", "jaccard")
    )


def minhash_neardup_clusters(
    df: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """(id, canonical) word-shingle near-dup clusters at Jaccard ≥ 0.9
    WITHOUT materializing the
    quadratic pair report: label propagation runs on the collapsed
    REPRESENTATIVE graph (one node per distinct shingle set, verified
    rep-level edges from the shared ``_rep_neardup_edges``), and every
    member inherits its representative's component label. Output and
    all intermediate state are linear in documents — on a corpus with
    a 10k-copy viral document the pair report is ~50M rows, the
    cluster report is 15k.

    Each group's representative is its min id and the component label
    is the min representative, so the inherited label equals the min
    doc id over the whole cluster — exactly the contract of running CC
    over the expanded pair graph (equivalence is test-pinned).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sh = _shingled(df, 1).filter(F.size("__sh") > 0)
    grp = cache_tracked(_collapse_identical(sh, fingerprint=True))
    reps = _hashed_reps(grp)
    rep_edges = _rep_neardup_edges(reps, 0.9, num_hashes, bands).select("id_a", "id_b")
    comp = connected_components(reps.select(F.col("doc_id").alias("node")), rep_edges)
    # members inherit their representative's component label
    return (
        grp.select(F.col("__rep").alias("node"), "__members")
        .join(comp, "node")
        .select(
            F.explode("__members").alias("doc_id"),
            F.col("component").alias("canonical"),
        )
    )


def block_dedup_keep_first(df: DataFrame, block_words: int = 20) -> DataFrame:
    """(id, n_blocks, n_kept, kept_fp): paragraph/block-level exact
    dedup with keep-first-occurrence semantics — the CCNet / C4
    dedup granularity (Wenzek et al. 2020 dedupe corpora at the
    PARAGRAPH level; C4 at the 3-sentence span). The fixture corpus
    has no newline structure, so "paragraph" is pinned to consecutive
    `block_words`-word blocks of the normalized text: deterministic,
    language-free, and the same block boundary both engines compute.

    Semantics (distinct from `duplicate_span_removal`, which removes
    EVERY copy of any k-gram occurring in >=2 docs): the corpus-wide
    FIRST occurrence of each distinct block survives, ordered by
    (id, block index); later copies are dropped. Output per doc:
    total block count, surviving block count, and md5 of the
    surviving text (blocks re-joined in position order) — the
    removal action itself, value-checkable.

    Scale: one shuffle keyed by block text (min(struct(id, idx))
    per block — map-side combinable, like `exact_dedup`'s
    whole-doc groupBy; at 100 TB key by a 128-bit block hash to
    shrink shuffle payload), one join back on the same key, one
    per-doc regroup. No quadratic stage, no window over the corpus.

    Contract: rows with NULL id or NULL text are excluded on both
    sides (FIXTURES.md §J); a doc whose every block is a later copy
    keeps the empty string (kept_fp = md5('')).
    """
    base = df.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    b = int(block_words)
    words = tokens(F.col("text"))
    blocks = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(words) / F.lit(b)).cast("int") - 1,
                ),
                lambda i: F.array_join(
                    F.slice(words, i * b + 1, b), " "
                ),
            )
        ).alias("idx", "block"),
    )
    first = blocks.groupBy("block").agg(
        F.min(F.struct("doc_id", "idx")).alias("__first")
    )
    kept = blocks.join(first, "block").filter(
        (F.col("doc_id") == F.col("__first.doc_id"))
        & (F.col("idx") == F.col("__first.idx"))
    )
    totals = blocks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks")
    )
    survived = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "block"))),
                lambda s: s["block"],
            ),
            " ",
        ).alias("__kept_txt"),
    )
    return totals.join(survived, "doc_id", "left").select(
        "doc_id",
        "n_blocks",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.md5(F.coalesce(F.col("__kept_txt"), F.lit(""))).alias("kept_fp"),
    )
