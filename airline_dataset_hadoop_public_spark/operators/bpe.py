"""Distributed BPE merge learning (Sennrich et al. 2016) — the
tokenizer-training step of an LLM data pipeline, expressed relationally
so every round is a bounded set of shuffles on the word-type table.

The corpus is collapsed to word types with frequencies first (the
classic BPE trick: merge decisions depend only on the type table, so a
100 TB corpus reduces to a vocabulary-sized working set after one
explode+count — everything after that is shuffles on ~10^6-10^7 word
types, each a tiny per-word window partition). Each learning round:

1. pair counts: lead() over (word, pos) pairs adjacent symbols; count
   = sum of word frequencies per (sym1, sym2) — one window pass + one
   hash aggregate.
2. best pair: global argmax with (count desc, sym1 asc, sym2 asc)
   tie-break, carried as a 1-row broadcast dimension (no collect()).
3. greedy left-to-right merge, relationally: a matched position
   merges iff it is not consumed by the previous merge. Overlapping
   matches only exist for runs of a self-pair (s,s) — for s1 ≠ s2 two
   adjacent positions cannot both match — so "greedy left-to-right"
   is exactly "odd offset within each maximal run of matched
   positions" (gaps-and-islands + offset parity), which both engines
   compute identically with window functions.

The same relational formulation runs on DuckDB as the oracle (unrolled
per round), so the correctness gate checks merge semantics, not just
counts. Per-position state never leaves the word's partition; the only
global data movement is the two hash aggregates per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import tokens
from ..runtime import cache_tracked


def _word_types(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_symbols(wt: DataFrame) -> DataFrame:
    """(word, freq, pos, sym): one row per character position.

    The empty word must yield NO rows: Spark's sequence(1, 0) is the
    DESCENDING [1, 0] (not empty like DuckDB's range(1, 1)), which
    would emit two phantom ''-symbol rows per empty word and let a
    ('','') pair enter the merge statistics."""
    return wt.select(
        "word",
        "freq",
        F.posexplode(
            F.expr(
                "CASE WHEN length(word) > 0 THEN "
                "transform(sequence(1, length(word)), i -> substring(word, i, 1)) "
                "ELSE array() END"
            )
        ).alias("pos0", "sym"),
    ).select("word", "freq", (F.col("pos0") + 1).alias("pos"), "sym")


def _pair_counts(sym: DataFrame) -> DataFrame:
    w = Window.partitionBy("word").orderBy("pos")
    return (
        sym.withColumn("nxt", F.lead("sym").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("sym1"), F.col("nxt").alias("sym2"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _best_pair(pairs: DataFrame) -> DataFrame:
    """1-row frame (b1, b2): the argmax pair under the deterministic
    tie-break. min_by on an orderable struct keeps it a single
    aggregate (no sort-limit stage)."""
    return pairs.agg(
        F.expr(
            "min_by(struct(sym1 AS b1, sym2 AS b2), struct(-cnt, sym1, sym2))"
        ).alias("b")
    ).select("b.b1", "b.b2")


def _merge(sym: DataFrame, best: DataFrame) -> DataFrame:
    """Apply one greedy left-to-right merge of the broadcast best pair."""
    w = Window.partitionBy("word").orderBy("pos")
    s = sym.crossJoin(F.broadcast(best))
    s = s.withColumn("nxt", F.lead("sym").over(w)).withColumn(
        "match",
        F.coalesce(
            (F.col("sym") == F.col("b1")) & (F.col("nxt") == F.col("b2")),
            F.lit(False),
        ),
    )
    # gaps-and-islands over matched positions: island id = pos - rank
    # among the word's matched positions; greedy = odd offset inside
    # the island (run of matches ⇒ self-pair run ⇒ merge 1st, 3rd, …).
    wm = Window.partitionBy("word").orderBy("pos")
    s = s.withColumn(
        "__mrn",
        F.when(
            F.col("match"),
            F.row_number().over(
                Window.partitionBy("word", "match").orderBy("pos")
            ),
        ),
    ).withColumn(
        "merged",
        F.col("match")
        & (
            F.row_number().over(
                Window.partitionBy(
                    "word", "match", F.col("pos") - F.col("__mrn")
                ).orderBy("pos")
            )
            % 2
            == 1
        ),
    )
    s = s.withColumn(
        "consumed", F.coalesce(F.lag("merged").over(wm), F.lit(False))
    )
    return (
        s.filter(~F.col("consumed"))
        .select(
            "word",
            "freq",
            F.row_number().over(wm).alias("pos"),
            F.when(
                F.col("merged"), F.concat(F.col("sym"), F.col("nxt"))
            ).otherwise(F.col("sym")).alias("sym"),
        )
    )


def bpe_pair_merge_rounds(
    docs: DataFrame,
    rounds: int = 2,
    topn: int = 10,
    probe=None,
) -> DataFrame:
    """Learn `rounds` BPE merges over the documents' text column; report
    each round's top-`topn` pair counts (the table a tokenizer trainer
    would inspect).

    Output: (round, rank, sym1, sym2, cnt) ordered by (round, rank);
    rank is by (cnt desc, sym1 asc, sym2 asc). Round r counts are
    taken BEFORE round r's merge is applied (so round 1 rank 1 is the
    first merge learned, round 2 rank 1 the second, …).

    `probe(round, sym)` — optional observer invoked with each round's
    post-checkpoint symbol frame; lets tests assert the lineage bound
    on the REAL loop instead of a mirror of it.
    """
    sym = _initial_symbols(_word_types(docs))
    out: DataFrame | None = None
    prev_pairs: DataFrame | None = None
    for r in range(1, rounds + 1):
        if r > 1:
            # truncate per-round lineage like connected_components does:
            # without this the plan (and closure serialization / analysis
            # time) grows linearly with rounds, and a production tokenizer
            # run (30k merges) would be lineage-bound long before it was
            # compute-bound. localCheckpoint materializes the word-type
            # symbol table — vocabulary-sized, not corpus-sized.
            sym = sym.localCheckpoint(eager=True)
            if prev_pairs is not None:
                # the checkpoint above materialized everything derived
                # from the previous round's pair table (its best pair is
                # baked into sym, its report rows are checkpointed
                # below) — release it NOW, or a long merge run pins one
                # vocabulary-sized cache per round for its whole life
                prev_pairs.unpersist()
        if probe is not None:
            probe(r, sym)
        # used twice per round (top-n report + argmax for the merge)
        pairs = cache_tracked(_pair_counts(sym))
        # distributed top-n: orderBy+limit is TakeOrderedAndProject
        # (per-partition heaps), then the rank window runs on `topn`
        # rows — never a global sort of the pair table. The report rows
        # (≤ topn) are checkpointed eagerly so the returned union holds
        # tiny materialized branches, not references to every round's
        # pair/symbol frames.
        ranked = (
            pairs.orderBy(F.desc("cnt"), F.asc("sym1"), F.asc("sym2"))
            .limit(topn)
            .withColumn(
                "rank",
                F.row_number()
                .over(Window.orderBy(F.desc("cnt"), F.asc("sym1"), F.asc("sym2")))
                .cast("long"),
            )
            .select(F.lit(r).alias("round"), "rank", "sym1", "sym2", "cnt")
            .localCheckpoint(eager=True)
        )
        out = ranked if out is None else out.unionByName(ranked)
        if r < rounds:
            sym = _merge(sym, _best_pair(pairs))
        prev_pairs = pairs
    assert out is not None
    return out


def bpe_encode_token_counts(docs: DataFrame) -> DataFrame:
    """Tokenizer INFERENCE under a just-learned BPE vocab: learn two
    merges sequentially on the word-type table, then count each
    (doc_id, text) document's tokens under the merged segmentation.

    The per-word symbol counts form a vocabulary-sized dimension that
    joins back onto the exploded document words — the corpus is
    touched once for the type table and once for the final count;
    every merge round runs on word TYPES only (the property that makes
    tokenization O(vocab) not O(corpus) per merge).

    Output: (doc_id, n_words, n_tokens_bpe) — n_tokens_bpe ≤ chars,
    shrinking as merges land.
    """
    sym = _initial_symbols(_word_types(docs))
    prev_pairs = None
    for i in range(2):
        if i > 0:
            # per-round lineage truncation + cache release — see
            # bpe_pair_merge_rounds
            sym = sym.localCheckpoint(eager=True)
            if prev_pairs is not None:
                prev_pairs.unpersist()
        pairs = cache_tracked(_pair_counts(sym))
        sym = _merge(sym, _best_pair(pairs))
        prev_pairs = pairs
    nsym = sym.groupBy("word").agg(F.count("*").alias("n_sym"))
    doc_words = docs.select(
        F.col("doc_id").alias("__id"), F.explode(tokens("text")).alias("word")
    )
    return (
        doc_words.join(nsym, "word")
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").alias("n_tokens_bpe"),
        )
        .select(F.col("__id").alias("doc_id"), "n_words", "n_tokens_bpe")
    )
