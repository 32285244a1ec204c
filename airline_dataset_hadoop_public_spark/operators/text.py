"""Text-analysis operators for training-data pipelines
(SURVEY.md §7.4): token counting, quality scoring, language-ID
heuristic, document fingerprinting.

Everything is built-in-function expressions (split / regexp /
higher-order array functions) except the winnowing fingerprint kernel,
which is an Arrow-batched numpy UDF: Catalyst evaluates higher-order
lambdas interpretively, and per-character rolling hashes are the one
place that overhead dominates (~10s → ~0.1s at sf0.1). Each op keeps
the exact formulation its DuckDB oracle mirrors (see
plans/fixtures_extensions.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregates import ROUND_DIGITS
from ..functions.scalar import normalize_text, tokens
from ..runtime import cache_tracked

# Polynomial rolling hash of the rolling-hash, winnowing and span-removal
# operators: fold (acc·_HASH_BASE + code) mod _HASH_MOD. _HASH_MOD < 2³¹
# keeps every step inside int64.
_HASH_BASE = 31
_HASH_MOD = 1_000_000_007

# Small public stop/marker word lists (standard high-frequency words).
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "for")
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den"),
    "fr": ("le", "les", "des", "et", "du", "une", "est", "dans"),
}


def _in_list(var: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"{var} IN ({lst})"


def with_tokens(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn("toks", tokens(text_col))


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_distinct_tokens) — whitespace tokenization."""
    return with_tokens(df, text_col).select(
        id_col,
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct_tokens"),
    )


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features: length, token stats, average
    token length, stopword ratio, type-token ratio.

    All token-derived features are computed inside ONE let-bound
    struct, so the text is tokenized exactly once per row — separate
    top-level expressions would each get the split() inlined by
    CollapseProject (5× tokenization at scale).
    """
    feat = (
        "transform(array(split(lower(trim({t})), '\\\\s+')), toks -> struct("
        "CAST(size(toks) AS BIGINT) AS n_tokens, "
        "aggregate(toks, CAST(0 AS BIGINT), (a, t) -> a + length(t)) AS charsum, "
        f"size(filter(toks, t -> {_in_list('t', STOPWORDS_EN)})) AS stop_hits, "
        "size(array_distinct(toks)) AS n_distinct))[0]"
    ).format(t=text_col)
    d = df.withColumn("__f", F.expr(feat))
    n_tok = F.col("__f.n_tokens")
    return d.select(
        id_col,
        F.length(text_col).cast("long").alias("n_chars_obs"),
        n_tok.alias("n_tokens"),
        F.round(F.col("__f.charsum") / n_tok, ROUND_DIGITS).alias("avg_token_len"),
        F.round(F.col("__f.stop_hits") / n_tok, ROUND_DIGITS).alias("stopword_ratio"),
        F.round(F.col("__f.n_distinct") / n_tok, ROUND_DIGITS).alias("type_token_ratio"),
    )


def langid_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language scores + argmax prediction.

    Deterministic precedence on ties: en > es > de > fr (fixed CASE
    cascade, mirrored exactly in the oracle SQL).
    """
    hit_fields = ", ".join(
        f"CAST(size(filter(toks, t -> {_in_list('t', words)})) AS BIGINT) "
        f"AS {lang}_hits"
        for lang, words in LANG_MARKERS.items()
    )
    # single let-bound struct → one tokenization per row (see
    # quality_scores for the CollapseProject rationale)
    feat = (
        f"transform(array(split(lower(trim({text_col})), '\\\\s+')), "
        f"toks -> struct({hit_fields}))[0]"
    )
    d = df.withColumn("__f", F.expr(feat)).select(
        id_col, *[F.col(f"__f.{lang}_hits").alias(f"{lang}_hits") for lang in LANG_MARKERS]
    )
    en, es, de, fr = (F.col(f"{x}_hits") for x in ("en", "es", "de", "fr"))
    pred = (
        F.when((en >= es) & (en >= de) & (en >= fr), F.lit("en"))
        .when((es >= de) & (es >= fr), F.lit("es"))
        .when(de >= fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return d.withColumn("pred_lang", pred)


def _char_trigram_profile(words: tuple[str, ...]) -> list[str]:
    """Distinct boundary-padded character trigrams of a word list —
    a tiny Cavnar-Trenkle-style language profile built from the same
    public marker words as the word-level scorer. Deterministic, so
    the DuckDB oracle can inline the identical list."""
    grams = set()
    for w in words:
        padded = f" {w} "
        for i in range(len(padded) - 2):
            grams.add(padded[i : i + 3])
    return sorted(grams)


CHAR_PROFILES: dict[str, list[str]] = {
    lang: _char_trigram_profile(words) for lang, words in LANG_MARKERS.items()
}


def langid_char_ngram(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-n-gram language ID: score = |doc's char-trigram set ∩
    language profile| over boundary-padded normalized text; argmax with
    the same en > es > de > fr tie precedence as the word-level scorer.

    One let-bound expression computes the padded text, its distinct
    trigram set, and all four profile intersections — a single
    normalization + trigram pass per row.
    """
    def lit_arr(grams: list[str]) -> str:
        inner = ", ".join("'" + g.replace("'", "''") + "'" for g in grams)
        return f"array({inner})"

    hit_fields = ", ".join(
        f"CAST(size(array_intersect(tg, {lit_arr(CHAR_PROFILES[lang])})) AS BIGINT)"
        f" AS {lang}_hits"
        for lang in LANG_MARKERS
    )
    norm = f"concat(' ', regexp_replace(lower(trim({text_col})), '\\\\s+', ' '), ' ')"
    feat = (
        f"transform(array({norm}), nm -> "
        f"transform(array(array_distinct(transform("
        f"sequence(1, greatest(length(nm) - 2, 0)), i -> substr(nm, i, 3)))), "
        f"tg -> struct({hit_fields}))[0])[0]"
    )
    d = df.withColumn("__f", F.expr(feat)).select(
        id_col,
        *[F.col(f"__f.{lang}_hits").alias(f"{lang}_hits") for lang in LANG_MARKERS],
    )
    en, es, de, fr = (F.col(f"{x}_hits") for x in ("en", "es", "de", "fr"))
    pred = (
        F.when((en >= es) & (en >= de) & (en >= fr), F.lit("en"))
        .when((es >= de) & (es >= fr), F.lit("es"))
        .when(de >= fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return d.withColumn("pred_lang", pred)


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint) — md5 of the whitespace-normalized text.
    Stable across engines (DuckDB md5 produces the same hex)."""
    return df.select(
        id_col, F.md5(normalize_text(text_col)).alias("fingerprint")
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
# the classic GPT-2-style split shape, restricted to a regex subset
# that Java regex and RE2 (DuckDB) interpret identically.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_bpe_tokens) — count of BPE-style pre-tokens. A proxy for
    LLM token budgeting; the regex runs JVM-side (codegen)."""
    return df.select(
        id_col,
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def rolling_hash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, rhash) — polynomial rolling hash of the normalized text's
    byte codes: fold (acc·_HASH_BASE + code) mod _HASH_MOD
    left-to-right. Pure higher-order expression. Mirrored in DuckDB via
    list_reduce with a prepended 0 seed.
    """
    # let-bind the normalized text: referenced per character, the
    # normalize regexp would otherwise be inlined into the lambda and
    # re-run for every position (O(n²) per doc)
    norm = (
        f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"
    )
    # NULL text has no hashable bytes: dropped on both sides (the
    # engines disagree on folding over a NULL char list — Spark's
    # aggregate(NULL) is NULL, DuckDB's seeded list_reduce is 0).
    df = df.where(F.col(text_col).isNotNull())
    return df.select(
        id_col,
        F.expr(
            f"transform(array({norm}), nm -> "
            f"aggregate("
            f"transform(sequence(1, length(nm)), "
            f"i -> CAST(ascii(substr(nm, i, 1)) AS BIGINT)), "
            f"CAST(0 AS BIGINT), "
            f"(a, c) -> (a * {_HASH_BASE} + c) % {_HASH_MOD}))[0]"
        ).alias("rhash"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """(id, pos, khash) — winnowing document fingerprints (Schleimer/
    Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD'03 — the MOSS scheme).

    Per position i of the whitespace-normalized text, the k-gram
    polynomial rolling hash; per length-`window` window of those
    hashes, select the minimum (rightmost on ties — the winnowing
    rule); the distinct selected (position, hash) pairs are the
    fingerprint set. Guarantees: any shared substring of length
    ≥ window + k − 1 between two documents yields a shared
    fingerprint, so plagiarism/overlap detection joins on `khash`.

    Implementation: JVM-side normalization feeding an Arrow-batched
    numpy kernel (see ``_winnow_kernel``) — the one hot loop in the
    text family where a vectorized Pandas UDF beats Catalyst's
    interpreted higher-order functions by ~100×. The
    rightmost-min-on-tie rule rides on a single windowed min by
    packing each hash with its position into one int64 — combined =
    hash·2²⁰ + (2²⁰−1−i) — so ordering by combined value IS the
    (hash asc, position desc) order. Valid while hash < 2³⁰ (_HASH_MOD
    bounds it) and position < 2²⁰; chunk longer documents upstream.
    """
    pos_bits = 1 << 20
    # Normalization stays a JVM expression: Java's \s+ / lower rules are
    # what the oracle mirrors, and they must not drift with the kernel.
    norm = f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"
    normed = df.select(id_col, F.expr(norm).alias("__nm"))
    combined = normed.select(
        id_col, _winnow_kernel(k, window, pos_bits)("__nm").alias("__fp")
    )
    return combined.select(
        id_col, F.explode("__fp").alias("__c")
    ).select(
        id_col,
        (F.lit(pos_bits - 1) - F.col("__c") % pos_bits).alias("pos"),
        F.expr(f"__c div {pos_bits}").alias("khash"),  # exact int64 division
    )


_WINNOW_KERNELS: dict[tuple[int, int, int], object] = {}


def _winnow_kernel(k: int, window: int, pos_bits: int):
    """Arrow-vectorized winnowing kernel: normalized text → array of
    packed (khash·pos_bits + (pos_bits−1−i)) selected fingerprints.

    Replaces the original pure-HOF expression (kept in spirit in the
    DuckDB oracle) which Catalyst evaluates interpretively — ~10s for
    1.5M k-grams at sf0.1, the single largest cost in BENCH_r01. The
    numpy version does the identical arithmetic — per-step mod Horner
    over code points, rightmost-min-on-tie via the packed value,
    distinct — two orders of magnitude faster, and per-batch memory is
    O(batch chars), so executor footprint at 100 TB stays bounded by
    the Arrow batch size.
    """
    key = (k, window, pos_bits)
    if key not in _WINNOW_KERNELS:

        def fingerprints(s: str) -> list[int]:
            if s is None:  # NULL text → empty fingerprint set
                return []
            n = len(s)
            if n < k or n - k + 1 < window:
                return []
            # exact code points (matches Spark/DuckDB ascii()/unicode())
            cps = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
                np.int64
            )
            # k-gram polynomial hash, mod applied per step exactly as the
            # oracle's aggregate(...) does; k is small so this is k fused
            # vector ops over all positions at once
            h = cps[: n - k + 1].copy()
            for j in range(1, k):
                h = (h * _HASH_BASE + cps[j : n - k + 1 + j]) % _HASH_MOD
            # pack with 1-indexed position: min == (hash asc, pos desc)
            packed = h * pos_bits + (pos_bits - 1 - np.arange(1, len(h) + 1))
            wins = np.lib.stride_tricks.sliding_window_view(packed, window)
            return np.unique(wins.min(axis=1)).tolist()

        @F.pandas_udf("array<bigint>")
        def kernel(texts: pd.Series) -> pd.Series:
            return texts.map(fingerprints)

        _WINNOW_KERNELS[key] = kernel
    return _WINNOW_KERNELS[key]


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tfidf) — per-document top-3 terms by tf·idf.

    tf = raw term count in the document; idf = ln(N / df) with N the
    TOTAL document count and df the number of documents containing the
    term. Scored terms are ranked per document on the ROUNDED score
    (desc) with the term string as deterministic tie-break, so the
    ranking is reproducible in any engine.

    Scale shape: one explode + two hash aggregations (doc-term counts,
    then per-term document frequency over the already-aggregated
    doc-term frame — strictly smaller than the token stream), a
    term-keyed join of the term→df side, and a per-document ranking
    window. N is a broadcast scalar, not a driver collect. No token
    list ever materializes per row beyond the explode.

    The df side carries NO broadcast hint (r9 self-audit): `dfreq` is
    VOCABULARY-scaled, and a hard hint would pin a broadcast that
    stops fitting at corpus scale. AQE picks the strategy from runtime
    sizes instead — broadcast while the dictionary is small, term-key
    shuffle when it is not; results are join-strategy-invariant (the
    planshift adversarial axis runs this exact query with
    auto-broadcast disabled).
    """
    from pyspark.sql import Window

    from ..functions.scalar import tokens

    terms = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    ndocs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        # no broadcast hint on the vocabulary-scaled df side — AQE
        # decides from runtime sizes (see docstring)
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            id_col,
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("dfreq")),
                ROUND_DIGITS,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 20,
) -> DataFrame:
    """(id_a < id_b, shared_fingerprints) — doc pairs sharing at least
    `min_shared` distinct winnowing fingerprints (the MOSS overlap
    score over the scheme in `winnowing_fingerprints`).

    Scale shape (the same duplicate-group collapse the dedup operators
    use): docs with IDENTICAL fingerprint sets — exact/near-exact
    duplicates, the dominant case in crawled corpora — are collapsed
    to one representative BEFORE the fingerprint self-join, so a
    c-copy cluster costs one posting row per hash instead of c (and
    the join avoids the c² blowup entirely); intra-group pairs share
    their whole set by construction, and verified representative
    pairs expand back to members with the count carried over exactly.
    """
    from .dedup import _collapse_identical, _expand_rep_pairs

    fps = winnowing_fingerprints(df, id_col, text_col, k, window)
    sets = fps.groupBy(id_col).agg(
        F.array_sort(F.collect_set("khash")).alias("__sh")
    )
    grp = _collapse_identical(sets, id_col, key="__sh").transform(cache_tracked)
    intra = (
        grp.filter(
            (F.size("__members") > 1) & (F.size("__sh") >= min_shared)
        )
        .select(
            F.explode("__members").alias("id_a"),
            "__members",
            F.size("__sh").cast("long").alias("shared_fingerprints"),
        )
        .select(
            "id_a", F.explode("__members").alias("id_b"), "shared_fingerprints"
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    posting = grp.select(
        F.col("__rep").alias(id_col), F.explode("__sh").alias("khash")
    )
    a = posting.select(F.col(id_col).alias("id_a"), "khash")
    b = posting.select(F.col(id_col).alias("id_b"), "khash")
    rep_pairs = (
        a.join(b, "khash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )
    cross = _expand_rep_pairs(rep_pairs, grp, ["shared_fingerprints"])
    return intra.select(
        "id_a", "id_b", "shared_fingerprints"
    ).unionByName(cross.select("id_a", "id_b", "shared_fingerprints"))


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stop_df_divisor: int = 3,
) -> DataFrame:
    """(id_a < id_b, cosine) — document pairs with tf-idf cosine
    similarity >= 0.5, computed term-at-a-time over an inverted
    index (no all-pairs stage; reference has no similarity surface at
    all — SURVEY.md §2 ends at exact grouping).

    Weight space: terms with 2 <= df <= floor(N / stop_df_divisor)
    (the cap is computed as an exact float division by an integer
    divisor so any SQL oracle can reproduce the boundary bit-for-bit;
    a ratio multiply like n*(1/3) floors differently when 3 | n),
    tf·ln(N/df) weights, norms taken over the SAME pruned space so the
    measure is self-consistent. Pruning is the scale contract: df=1
    terms cannot produce a pair (dropping them loses nothing), and the
    stop-term cap bounds posting-list skew, making the per-term
    self-join cost Σ df² over kept terms instead of quadratic in the
    corpus. This is the classic sparse-vector cosine join
    (term-at-a-time posting intersection) — one explode, two hash
    aggs, one bounded self-join.

    Duplicate-group collapse (same make-or-break step as the
    minhash/winnowing pipelines): docs with IDENTICAL kept (term, tf)
    vectors — exact/near-exact duplicates, the dominant case in
    crawled corpora — are collapsed to one representative before the
    posting self-join, so a c-copy cluster costs one posting row per
    term instead of c (and never c² join rows); intra-group pairs have
    cosine exactly 1.0 by construction and cross-group pairs inherit
    the representative's cosine unchanged (identical weight vectors →
    identical dot and norm doubles).
    """
    from ..functions.scalar import tokens

    terms = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    # NOT cached (r10 optimization round, measured): the (doc, term,
    # tf) aggregate feeds five consumers, but AQE already reuses the
    # identical exchange across them — a cache_tracked here measured
    # 4.3s -> 8.3s at sf0.1 (InMemoryRelation materialization blocks
    # the exchange reuse and adds a storage pass)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    ndocs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .crossJoin(F.broadcast(ndocs))
        .filter(
            (F.col("dfreq") >= 2)
            & (
                F.col("dfreq")
                <= F.floor(F.col("n_docs") / F.lit(float(stop_df_divisor)))
            )
        )
        .drop("n_docs")
    )
    w = (
        # vocabulary-scaled df side: no broadcast hint, AQE decides
        # (same r9 self-audit rationale as tfidf_top_terms)
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            F.col(id_col),
            "term",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("dfreq"))
            ).alias("wt"),
        )
    )
    from ..runtime import cache_tracked
    from .dedup import _expand_rep_pairs, _intra_group_pairs

    # ':'/'\n' are safe separators: terms come from a \s+ split (no
    # whitespace) and the trailing field is numeric, so the rightmost
    # ':' always delimits tf — the serialization is injective
    kept = tf.join(dfreq.select("term"), "term")  # vocab-scaled: no hint
    grp = cache_tracked(
        kept.groupBy(id_col)
        .agg(
            F.md5(
                F.concat_ws(
                    "\n",
                    F.sort_array(
                        F.collect_list(F.concat_ws(":", "term", "tf"))
                    ),
                )
            ).alias("__fp")
        )
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias("__rep"),
            F.collect_list(id_col).alias("__members"),
        )
    )
    intra = _intra_group_pairs(grp, "cosine", 1.0)
    wr = w.join(grp.select(F.col("__rep").alias(id_col)), id_col)
    norms = wr.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    a = wr.select(F.col(id_col).alias("id_a"), "term", F.col("wt").alias("wa"))
    b = wr.select(F.col(id_col).alias("id_b"), "term", F.col("wt").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("nrm").alias("nb"))
    rep_pairs = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cosine", F.col("dot") / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= 0.5)
        .select("id_a", "id_b", F.round("cosine", ROUND_DIGITS).alias("cosine"))
    )
    cross = _expand_rep_pairs(rep_pairs, grp, ["cosine"])
    return intra.select("id_a", "id_b", "cosine").unionByName(
        cross.select("id_a", "id_b", "cosine")
    )


_KGRAM_KERNELS: dict[int, object] = {}


def _kgram_hash_kernel(k: int):
    """Arrow kernel: per-position k-gram polynomial hashes (same
    per-step-mod Horner arithmetic as ``_winnow_kernel``, without the
    window-min) — array[i] is the hash of positions i+1 .. i+k
    (1-based, matching the oracle's range(1, n-k+2))."""
    if k not in _KGRAM_KERNELS:

        def hashes(s: str) -> list[int]:
            if s is None:
                return []
            n = len(s)
            if n < k:
                return []
            cps = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
                np.int64
            )
            h = cps[: n - k + 1].copy()
            for j in range(1, k):
                h = (h * _HASH_BASE + cps[j : n - k + 1 + j]) % _HASH_MOD
            return h.tolist()

        @F.pandas_udf("array<bigint>")
        def kernel(texts: pd.Series) -> pd.Series:
            return texts.map(hashes)

        _KGRAM_KERNELS[k] = kernel
    return _KGRAM_KERNELS[k]


def duplicate_span_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    max_posting: int = 10_000,
) -> DataFrame:
    """Exact-substring dedup ACTION (the span-removal layout of Lee et
    al. 2022, arXiv:2107.06499 "Deduplicating Training Data Makes
    Language Models Better", re-expressed relationally instead of via
    suffix arrays): every character span whose k-gram appears in >= 2
    DISTINCT documents is cut out of the normalized text.

    Output: one row per non-NULL-text document —
    (id, n_spans_removed, chars_removed, n_chars_kept, kept_fp) with
    kept_fp = md5 of the surviving text (spans stitched in order).

    Pipeline (all relational, O(corpus chars) rows at the widest):
    1. per-position k-gram hashes — one Arrow numpy pass (same Horner
       arithmetic as winnowing, so the oracle can restate it);
    2. duplicated grams: hash -> distinct-doc count >= 2. The
       ``max_posting`` guard drops degenerate boilerplate hashes whose
       posting exceeds the cap (the dedup-module hot-bucket defense) —
       spans that common are template noise, handled by exact dedup;
    3. covered intervals [pos, pos+k-1] merged per doc by the classic
       running-max island window (ONE exchange on the doc key, shared
       by every window and the final stitch);
    4. keep-intervals are the complement; the survivors are stitched
       with substr + array_join — never a per-char explode.

    At 100 TB step 2 is the only corpus-wide shuffle (hash-keyed,
    map-side combinable); steps 3-4 are doc-local windows.
    """
    from pyspark.sql import Window

    norm_expr = f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"
    # cached: the normalized corpus feeds BOTH the k-gram branch and
    # the final stitch join — without this the source scan + regexp
    # pass run twice (same repeated-lineage discipline as the graph
    # fixtures' edge materialization)
    normed = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.expr(norm_expr).alias("__nm"))
        .transform(cache_tracked)
    )
    grams = normed.select(
        id_col,
        F.posexplode(_kgram_hash_kernel(k)("__nm")).alias(
            "__p0", "__h"
        ),
    ).select(id_col, (F.col("__p0") + 1).alias("pos"), "__h")
    dup = (
        grams.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__docs"), F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__docs") >= 2) & (F.col("__n") <= max_posting))
        .select("__h")
    )
    covered = grams.join(dup, "__h").select(
        id_col, F.col("pos").alias("s"), (F.col("pos") + k - 1).alias("e")
    )
    w_ord = Window.partitionBy(id_col).orderBy("s", "e")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    islands = covered.withColumn(
        "__new", (F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(0))).cast("int")
    ).withColumn(
        "__isl",
        F.sum("__new").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    merged = islands.groupBy(id_col, "__isl").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    per_doc = merged.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("__spans")
    )
    # complement + stitch: pieces before/between/after the removal
    # spans, built from one let-bound pass over the span array
    stitched = normed.join(per_doc, id_col, "left").select(
        id_col,
        "__nm",
        F.coalesce("__spans", F.expr("array()")).alias("__spans"),
    ).select(
        id_col,
        F.size("__spans").cast("long").alias("n_spans_removed"),
        F.expr(
            "aggregate(__spans, CAST(0 AS BIGINT), (a, x) -> a + x.e - x.s + 1)"
        ).alias("chars_removed"),
        F.expr(
            # kept pieces: [prev_end+1 .. s-1] per span, then the tail
            "concat("
            "  array_join(zip_with("
            "    __spans,"
            "    concat(array(CAST(0 AS BIGINT)),"
            "           transform(slice(__spans, 1, greatest(size(__spans) - 1, 0)),"
            "                     x -> CAST(x.e AS BIGINT))),"
            "    (sp, pe) -> substr(__nm, CAST(pe + 1 AS INT),"
            "                       CAST(sp.s - pe - 1 AS INT))), ''),"
            "  CASE WHEN size(__spans) = 0 THEN __nm"
            "       ELSE substr(__nm,"
            "                   CAST(element_at(__spans, -1).e + 1 AS INT)) END)"
        ).alias("__kept"),
    ).select(
        id_col,
        "n_spans_removed",
        "chars_removed",
        F.length("__kept").cast("long").alias("n_chars_kept"),
        F.md5("__kept").alias("kept_fp"),
    )
    return stitched
