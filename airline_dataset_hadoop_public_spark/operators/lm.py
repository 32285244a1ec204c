"""Corpus-statistics language-model operators for training-data
quality pipelines (SURVEY.md §7.4 extension surface; the reference has
no text surface — its closest analog is the A1/A2 count/avg machinery,
reference README.md:143-231, applied here to token statistics).

Two operators, both pure built-in-function plans (no Python in the row
path):

- ``bigram_lm_scores`` — train an add-k-smoothed bigram language model
  on the corpus itself and score every document by its mean bigram
  log-probability. This is the classic KenLM-style quality filter
  (documents far from the corpus distribution score low) expressed as
  three shuffles: unigram counts, bigram counts, and the score join.
- ``dup_ngram_char_fracs`` — Gopher-style repetition signals: the
  fraction of 3-gram character mass occurring in duplicated 3-grams,
  and the character mass share of the single most frequent 2-gram
  (Rae et al. 2021's "duplicate n-gram character fraction" /
  "top n-gram character fraction").

100 TB notes: every aggregate here is a hash aggregate on a token or
n-gram key with map-side partial aggregation; the score join keys are
identical to the count-table group keys, so the exchange is reused.
Frequent-token join skew (e.g. "the the") is the known hazard — AQE
skew-join splitting handles it, and the count tables are orders of
magnitude smaller than the exploded facts, so the join is
fact × small-dim shaped even before AQE.

Every operator reads documents as (doc_id, text) and keys its output
by doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import ROUND_DIGITS
from ..functions.scalar import tokens, word_ngrams
from ..runtime import cache_tracked

_ADD_K = 0.5  # bigram_lm_scores' add-k smoothing
_CLASSIFIER_BUCKETS = 1024  # hashed_ngram_classifier's feature space


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Per-document mean add-k bigram log-probability under the corpus
    LM.

    score(d) = avg over bigrams (w1,w2) of d of
               ln((c(w1,w2) + k) / (c(w1) + k·V))

    where k = ``_ADD_K``, c(·) are corpus-wide counts and V the corpus
    vocabulary size. Documents with < 2 tokens have no bigrams and are omitted
    (inner-join semantics, mirrored by the oracle).

    Output: (doc_id, n_bigrams, lm_score) — lm_score rounded to
    ``ROUND_DIGITS``.
    """
    # cached: `d` feeds both count tables and `bg` feeds both the
    # bigram counts and the score join — uncached, the fact-sized
    # tokenize + explode would run twice per consumer
    d = cache_tracked(
        docs.select(F.col("doc_id").alias("__id"), tokens("text").alias("ws"))
    )

    uni = (
        d.select(F.explode("ws").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    # vocabulary size as a 1-row broadcast dimension, not a collect()
    vocab = uni.agg(F.count("*").alias("vsz"))

    bg = cache_tracked(
        d.withColumn("bg", word_ngrams("ws", 2))
        .select("__id", F.explode("bg").alias("b"))
        .select(
            "__id",
            F.split_part("b", F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part("b", F.lit(" "), F.lit(2)).alias("w2"),
        )
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))

    scored = (
        bg.join(bc, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__lp",
            F.log(
                (F.col("c2") + F.lit(_ADD_K))
                / (F.col("c1") + F.lit(_ADD_K) * F.col("vsz"))
            ),
        )
    )
    return scored.groupBy("__id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("__lp"), ROUND_DIGITS).alias("lm_score"),
    ).select(F.col("__id").alias("doc_id"), "n_bigrams", "lm_score")


def dup_ngram_char_fracs(docs: DataFrame) -> DataFrame:
    """Gopher repetition signals per document.

    - dup3_frac: of the total character mass of all 3-gram occurrences
      (each occurrence weighs length(gram) characters), the fraction
      belonging to 3-grams occurring ≥ 2 times in the document.
    - top2_frac: character-mass share of the document's single most
      frequent 2-gram (ties broken by the lexically smallest gram).

    Documents with < 3 tokens are omitted (no 3-grams). Output:
    (doc_id, n_grams3, dup3_frac, top2_frac), fractions rounded.
    """
    d = docs.select(F.col("doc_id").alias("__id"), tokens("text").alias("ws"))
    d = (
        d.withColumn("g3", word_ngrams("ws", 3))
        .withColumn("g2", word_ngrams("ws", 2))
        .filter(F.size("g3") > 0)
    )

    def gram_counts(col: str) -> DataFrame:
        return (
            d.select("__id", F.explode(col).alias("g"))
            .groupBy("__id", "g")
            .agg(F.count("*").alias("cnt"))
            .withColumn("mass", F.col("cnt") * F.length("g"))
        )

    c3 = gram_counts("g3")
    d3 = c3.groupBy("__id").agg(
        F.sum("cnt").alias("n_grams3"),
        F.round(
            F.sum(F.when(F.col("cnt") >= 2, F.col("mass")).otherwise(F.lit(0)))
            / F.sum("mass"),
            ROUND_DIGITS,
        ).alias("dup3_frac"),
    )

    c2 = gram_counts("g2")
    w = Window.partitionBy("__id").orderBy(F.desc("cnt"), F.asc("g"))
    t2 = (
        c2.withColumn("__total", F.sum("mass").over(Window.partitionBy("__id")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "__id",
            F.round(F.col("mass") / F.col("__total"), ROUND_DIGITS).alias("top2_frac"),
        )
    )

    return (
        d3.join(t2, "__id")
        .select(F.col("__id").alias("doc_id"), "n_grams3", "dup3_frac", "top2_frac")
    )


def hashed_ngram_classifier(docs: DataFrame) -> DataFrame:
    """Linear quality classifier over hashed uni+bigram features —
    fasttext-style INFERENCE as a pure declarative plan (the shape a
    distilled quality filter runs at 100 TB: explode features, map to
    weight via hash arithmetic, mean-pool, sigmoid — one shuffle on
    the doc key, no model table, no UDF).

    Weights are pseudo-random but fixed, derived from md5 of the
    bucket id b < ``_CLASSIFIER_BUCKETS`` (portable to the DuckDB
    oracle): w(b) ∈ [-1, 1] in 0.001 steps. p = sigmoid(mean(w));
    keep = p ≥ 0.5.

    Output: (doc_id, n_feats, p_keep, keep).
    """
    d = docs.select(F.col("doc_id").alias("__id"), tokens("text").alias("ws"))
    feats = d.withColumn("bg", word_ngrams("ws", 2)).select(
        "__id", F.explode(F.concat(F.col("ws"), F.col("bg"))).alias("f")
    )
    bk = (
        F.conv(F.substring(F.md5("f"), 1, 15), 16, 10).cast("bigint")
        % F.lit(_CLASSIFIER_BUCKETS)
    )
    wexpr = (
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("w"), bk.cast("string"))), 1, 15),
                16,
                10,
            ).cast("bigint")
            % F.lit(2001)
            - F.lit(1000)
        )
        / F.lit(1000.0)
    )
    scored = feats.withColumn("w", wexpr)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.sum("w") / F.count("*"))))
    return (
        scored.groupBy("__id")
        .agg(
            F.count("*").alias("n_feats"),
            F.round(p, ROUND_DIGITS).alias("p_keep"),
            (p >= 0.5).cast("int").alias("keep"),
        )
        .select(F.col("__id").alias("doc_id"), "n_feats", "p_keep", "keep")
    )


def dsir_importance_weights(
    docs: DataFrame,
    target: "F.Column",
    buckets: int = 256,
) -> DataFrame:
    """Per-document DSIR importance weights (Data Selection via
    Importance Resampling, Xie et al. 2023, arXiv:2302.03169): featurize
    every document as a bag of HASHED unigrams+bigrams, fit target and
    raw feature distributions with Laplace smoothing, and weight each
    document by its summed feature log-likelihood ratio

        w(d) = Σ_f n_f(d) · [ln p_target(f) − ln p_raw(f)]

    Documents that look like the `target` slice (a boolean Column over
    `docs`, e.g. lang == 'en') score high; the resampling step keeps
    the high-weight tail. This is the hashed-n-gram cheap proxy for
    model-based quality filtering — the published shape for selecting
    pretraining data at corpus scale.

    Scale shape: one tokenize+explode pass builds (doc, bucket, n)
    facts; the two distributions are `buckets`-sized aggregates of that
    fact (map-side combine); the log-ratio table is broadcast back onto
    the facts, so the weight is one keyed aggregate per document —
    no corpus-sized shuffle beyond the feature explode itself. The
    feature space is fixed at `buckets` regardless of corpus size
    (that is the point of hashing) and the md5-derived bucket matches
    the repo's portable-hash convention for engine-identical results.

    Output: (doc_id, is_target, n_feats, dsir_weight) for every
    document with ≥1 token.
    """
    d = docs.select(
        F.col("doc_id"),
        target.alias("is_target"),
        tokens("text").alias("__t"),
    ).filter(F.size("__t") > 0)
    feats = d.select(
        "doc_id",
        "is_target",
        F.explode(
            F.concat(F.col("__t"), word_ngrams("__t", 2))
        ).alias("__f"),
    ).withColumn(
        "__b",
        F.conv(F.substring(F.md5("__f"), 1, 8), 16, 10).cast("long")
        % buckets,
    )
    # the ONE fact-sized pass: everything below aggregates doc_feats
    # (≤ docs × buckets rows), so the tokenize/explode/hash never
    # re-runs — the distributions are sums of the per-doc counts
    doc_feats = cache_tracked(
        feats.groupBy("doc_id", "is_target", "__b").agg(
            F.count(F.lit(1)).alias("__n")
        )
    )
    raw = doc_feats.groupBy("__b").agg(F.sum("__n").alias("__cr"))
    tgt = (
        doc_feats.filter("is_target")
        .groupBy("__b")
        .agg(F.sum("__n").alias("__ct"))
    )
    counts = raw.join(tgt, "__b", "left").select(
        "__b", "__cr", F.coalesce("__ct", F.lit(0)).alias("__ct")
    )
    totals = counts.agg(
        F.sum("__cr").alias("__tr"), F.sum("__ct").alias("__tt")
    )
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "__b",
        (
            F.log(
                (F.col("__ct") + 1).cast("double")
                / (F.col("__tt") + buckets).cast("double")
            )
            - F.log(
                (F.col("__cr") + 1).cast("double")
                / (F.col("__tr") + buckets).cast("double")
            )
        ).alias("__lr"),
    )
    return (
        doc_feats.join(F.broadcast(ratio), "__b")
        .groupBy("doc_id", "is_target")
        .agg(
            F.sum("__n").alias("n_feats"),
            F.round(F.sum(F.col("__n") * F.col("__lr")), ROUND_DIGITS).alias(
                "dsir_weight"
            ),
        )
    )
