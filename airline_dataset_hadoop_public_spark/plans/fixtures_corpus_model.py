"""Corpus-model wave: corpus-trained LM quality scoring, Gopher
repetition signals, distributed BPE merge learning, and
product-quantization ANN — the tokenizer/quality/indexing layer of an
LLM training-data pipeline (SURVEY.md §7.4 extension surface; the
reference has no text/vector surface — closest analogs are its A1/A2
count-average jobs, reference README.md:143-231).

Oracle discipline (FIXTURES.md): identical tokenization
(`string_split_regex(lower(trim(text)), '\\s+')` ↔ the shared
`tokens()` expression), identical tie-breaks, ROUND(·, 4) on float
outputs, BIGINT casts on every count/rank both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.scalar import tokens
from ..operators.bpe import bpe_pair_merge_rounds
from ..operators.lm import bigram_lm_scores, dup_ngram_char_fracs
from ..operators.similarity import pq_adc_topk
from ..sources.catalog import load_table
from .registry import register


def _bow_fingerprint(toks):
    """Bag-of-words content fingerprint: md5 of the sorted distinct
    token set — the near-dup ingest/triplet key. One definition so the
    streaming-ingest, triplet, and any future fixture stay in lock-step
    with the oracle expression
    md5(array_to_string(list_sort(list_distinct(ws)), ' '))."""
    from pyspark.sql import functions as F

    return F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))

_W = "string_split_regex(lower(trim(text)), '\\s+')"


# ---------------------------------------------------------------------------
# Add-k bigram LM scored on the corpus itself (KenLM-style quality
# filter). Three hash aggregates on token keys + one score join whose
# keys equal the count-table group keys (exchange reuse); the
# vocabulary size rides as a 1-row broadcast dimension, not a collect.
# ---------------------------------------------------------------------------

_LM_ORACLE = f"""
WITH t AS (SELECT doc_id, {_W} AS ws FROM documents),
u AS (SELECT UNNEST(ws) AS w1 FROM t),
uc AS (SELECT w1, COUNT(*) AS c1 FROM u GROUP BY 1),
v AS (SELECT COUNT(*) AS vsz FROM uc),
b AS (SELECT doc_id, UNNEST([[ws[i], ws[i + 1]] for i in range(1, len(ws))]) AS p
      FROM t WHERE len(ws) >= 2),
bg AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM b),
bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2)
SELECT bg.doc_id AS doc_id,
       COUNT(*)::BIGINT AS n_bigrams,
       ROUND(AVG(LN((bc.c2 + 0.5) / (uc.c1 + 0.5 * v.vsz))), 4) AS lm_score
FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
GROUP BY bg.doc_id
"""


@register("docs_bigram_lm_score", _LM_ORACLE)
def docs_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_scores(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Gopher repetition signals (Rae et al. 2021): duplicate 3-gram
# character fraction + top 2-gram character share. Per-document
# aggregates over exploded n-grams; the top-2-gram window partitions
# by doc_id (bounded partitions).
# ---------------------------------------------------------------------------

_REP_ORACLE = f"""
WITH t AS (SELECT doc_id, {_W} AS ws FROM documents),
d AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 3),
g3 AS (SELECT doc_id,
              UNNEST([ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
                      for i in range(1, len(ws) - 1)]) AS g
       FROM d),
c3 AS (SELECT doc_id, g, COUNT(*) AS cnt, COUNT(*) * LENGTH(g) AS mass
       FROM g3 GROUP BY doc_id, g),
d3 AS (SELECT doc_id, SUM(cnt)::BIGINT AS n_grams3,
              ROUND(SUM(CASE WHEN cnt >= 2 THEN mass ELSE 0 END)::DOUBLE
                    / SUM(mass), 4) AS dup3_frac
       FROM c3 GROUP BY doc_id),
g2 AS (SELECT doc_id, UNNEST([ws[i] || ' ' || ws[i + 1]
                              for i in range(1, len(ws))]) AS g
       FROM d),
c2 AS (SELECT doc_id, g, COUNT(*) AS cnt, COUNT(*) * LENGTH(g) AS mass
       FROM g2 GROUP BY doc_id, g),
t2 AS (SELECT doc_id,
              ROUND(mass::DOUBLE / SUM(mass) OVER (PARTITION BY doc_id), 4)
                  AS top2_frac,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY cnt DESC, g ASC) AS rn
       FROM c2)
SELECT d3.doc_id AS doc_id, n_grams3, dup3_frac, top2_frac
FROM d3 JOIN t2 USING (doc_id)
WHERE t2.rn = 1
"""


@register("docs_repetition_ngram_fracs", _REP_ORACLE)
def docs_repetition_ngram_fracs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_ngram_char_fracs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# BPE merge learning, 2 rounds unrolled. The oracle replicates the
# relational greedy-merge (gaps-and-islands + offset parity — see
# operators/bpe.py for why that equals greedy left-to-right), so the
# gate checks merge SEMANTICS, not just the first pair count.
# ---------------------------------------------------------------------------

_BPE_ORACLE = f"""
WITH wt AS (SELECT w AS word, COUNT(*)::BIGINT AS freq
            FROM (SELECT UNNEST({_W}) AS w FROM documents) GROUP BY 1),
s1 AS (SELECT word, freq,
              UNNEST(range(1, LENGTH(word) + 1)) AS pos,
              UNNEST([word[i] for i in range(1, LENGTH(word) + 1)]) AS sym
       FROM wt),
p1 AS (SELECT word, freq, pos, sym,
              LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       FROM s1),
pc1 AS (SELECT sym AS sym1, nxt AS sym2, SUM(freq)::BIGINT AS cnt
        FROM p1 WHERE nxt IS NOT NULL GROUP BY 1, 2),
top1 AS (SELECT 1 AS round,
                CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, sym1, sym2)
                     AS BIGINT) AS rank,
                sym1, sym2, cnt
         FROM pc1 ORDER BY cnt DESC, sym1, sym2 LIMIT 10),
best1 AS (SELECT sym1 AS b1, sym2 AS b2
          FROM pc1 ORDER BY cnt DESC, sym1, sym2 LIMIT 1),
m1 AS (SELECT p.*, COALESCE(p.sym = b.b1 AND p.nxt = b.b2, FALSE) AS match
       FROM p1 p CROSS JOIN best1 b),
m2 AS (SELECT *, CASE WHEN match THEN
                   ROW_NUMBER() OVER (PARTITION BY word, match ORDER BY pos)
                 END AS mrn FROM m1),
m3 AS (SELECT *, match AND
                 (ROW_NUMBER() OVER (PARTITION BY word, match, pos - mrn
                                     ORDER BY pos) % 2 = 1) AS merged
       FROM m2),
m4 AS (SELECT *, COALESCE(LAG(merged) OVER (PARTITION BY word ORDER BY pos),
                          FALSE) AS consumed
       FROM m3),
s2 AS (SELECT word, freq,
              ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
              CASE WHEN merged THEN sym || nxt ELSE sym END AS sym
       FROM m4 WHERE NOT consumed),
p2 AS (SELECT word, freq, pos, sym,
              LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       FROM s2),
pc2 AS (SELECT sym AS sym1, nxt AS sym2, SUM(freq)::BIGINT AS cnt
        FROM p2 WHERE nxt IS NOT NULL GROUP BY 1, 2),
top2 AS (SELECT 2 AS round,
                CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, sym1, sym2)
                     AS BIGINT) AS rank,
                sym1, sym2, cnt
         FROM pc2 ORDER BY cnt DESC, sym1, sym2 LIMIT 10)
SELECT * FROM top1 UNION ALL SELECT * FROM top2
"""


@register("corpus_bpe_pair_merge", _BPE_ORACLE)
def corpus_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_pair_merge_rounds(
        load_table(spark, sf_dir, "documents"), rounds=2, topn=10
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (ADC). Codebook = subspace slices of the 16
# smallest-id vectors (sampling init — deterministic so the oracle can
# rebuild it; kmeans_fit refines it in production). 4 subspaces × 16
# dims × 16 centroids, 5 probes, top-10.
# ---------------------------------------------------------------------------

_PQ_ORACLE = """
WITH e2 AS (SELECT vec_id, CAST((i - 1) // 16 AS INT) AS s, (i - 1) % 16 AS d, x
       FROM (SELECT vec_id, UNNEST(embedding)::DOUBLE AS x,
                    UNNEST(range(1, len(embedding) + 1)) AS i
             FROM embeddings WHERE __VALID_EMBEDDING__)),
cb AS (SELECT s, vec_id AS j, d, x AS c FROM e2 WHERE vec_id < 16),
encd AS (
  SELECT e.vec_id, e.s, cb.j, SUM((e.x - cb.c) * (e.x - cb.c)) AS d2
  FROM e2 e JOIN cb ON e.s = cb.s AND e.d = cb.d
  GROUP BY e.vec_id, e.s, cb.j
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY d2 ASC, j ASC) AS rn
    FROM encd) WHERE rn = 1
),
pd AS (
  SELECT vec_id AS probe_id, s, j, d2 AS pd2 FROM encd WHERE vec_id < 5
),
adc AS (
  SELECT pd.probe_id, c.vec_id AS neighbor_id, SUM(pd.pd2) AS adc
  FROM codes c JOIN pd ON c.s = pd.s AND c.code = pd.j
  WHERE c.vec_id != pd.probe_id
  GROUP BY 1, 2
)
SELECT probe_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY adc ASC, neighbor_id ASC)
            AS BIGINT) AS rank,
       ROUND(adc, 4) AS adc_dist
FROM adc
QUALIFY rank <= 10
"""


@register("similarity_pq_adc_topk", _PQ_ORACLE)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_adc_topk(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Hashed-n-gram linear quality classifier (fasttext-inference shape):
# explode uni+bigram features, md5-hash to 1024 buckets, md5-derived
# fixed weights, mean-pool, sigmoid. Entirely hash arithmetic — no
# model table to join, no UDF — the way a distilled filter scores
# 100 TB.
# ---------------------------------------------------------------------------

_CLS_ORACLE = f"""
WITH t AS (SELECT doc_id, {_W} AS ws FROM documents),
f AS (SELECT doc_id,
             UNNEST(list_concat(ws, [ws[i] || ' ' || ws[i + 1]
                                     for i in range(1, len(ws))])) AS f
      FROM t),
b AS (SELECT doc_id,
             CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT) % 1024 AS bk
      FROM f),
w AS (SELECT doc_id,
             ((CAST(('0x' || substring(md5('w' || CAST(bk AS VARCHAR)), 1, 15))
                    AS BIGINT) % 2001) - 1000) / 1000.0 AS w
      FROM b)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_feats,
       ROUND(1 / (1 + EXP(-(SUM(w) / COUNT(*)))), 4) AS p_keep,
       CAST(1 / (1 + EXP(-(SUM(w) / COUNT(*)))) >= 0.5 AS INT) AS keep
FROM w GROUP BY doc_id
"""


@register("docs_hashed_ngram_classifier", _CLS_ORACLE)
def docs_hashed_ngram_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import hashed_ngram_classifier

    return hashed_ngram_classifier(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Streaming corpus ingest: documents arrive as 4 micro-batches
# (doc_id % 4 buckets, arrival order pinned by file mtime); each batch
# passes a quality gate (≥ 15 tokens), dedupes within-batch (min
# doc_id per fingerprint), and anti-joins the accumulated sink before
# appending — the incremental dedup ingestion loop of a training
# corpus. The dedup key is the bag-of-words fingerprint (md5 of the
# sorted distinct token set), which actually collides on this
# templated corpus (446/500 distinct at sf0.01), so the anti-join path
# is exercised, not just present. Survivor per fingerprint = argmin
# (arrival bucket, doc_id), which the oracle states in closed form.
# ---------------------------------------------------------------------------

_INGEST_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {_W} AS ws FROM documents),
q AS (SELECT doc_id, lang,
             md5(array_to_string(list_sort(list_distinct(ws)), ' '))
                 AS content_hash
      FROM t WHERE len(ws) >= 15)
SELECT doc_id, content_hash, lang FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY content_hash
                               ORDER BY doc_id % 4, doc_id) AS rn
  FROM q)
WHERE rn = 1
"""


def _docs_bucket_stream_dir(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """Mirror `documents` as 4 single-file buckets (doc_id % 4) whose
    mtimes force arrival order bucket 0 → 3 (FileStreamSource orders
    new files by modification time). Cache keyed by source identity,
    like fixtures_streaming._events_stream_dir. The mtimes are stamped
    again on every call: a copy of the mirror (``cp -r``) keeps its
    ``_READY`` marker but not the order."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from ..runtime import scratch_dir, source_scratch_key

    key = source_scratch_key(sf_dir, "documents.parquet")
    path = scratch_dir("stream_src", key, "documents_buckets")
    docs = load_table(spark, sf_dir, "documents")
    marker = os.path.join(path, "_READY")
    base = os.stat(sf_dir).st_mtime
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        for b in range(4):
            tmp = os.path.join(path, f"__tmp{b}")
            (
                docs.filter(F.col("doc_id") % 4 == b)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(path, f"bucket{b}.parquet")
            shutil.move(part, dst)
            shutil.rmtree(tmp, ignore_errors=True)
        with open(marker, "w"):
            pass
    for b in range(4):
        os.utime(os.path.join(path, f"bucket{b}.parquet"), (base + 10 * b,) * 2)
    return path, docs.schema


@register("streaming_corpus_ingest", _INGEST_ORACLE)
def streaming_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from ..runtime import scratch_dir

    src, schema = _docs_bucket_stream_dir(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    parent = scratch_dir("corpus_ingest", tag)
    shutil.rmtree(parent, ignore_errors=True)
    sink = os.path.join(parent, uuid.uuid4().hex[:8])

    def ingest(batch_df, batch_id: int) -> None:
        toks = tokens("text")
        batch = (
            batch_df.filter(F.size(toks) >= 15)
            .withColumn("content_hash", _bow_fingerprint(toks))
            .groupBy("content_hash")
            .agg(
                F.min_by(F.struct("doc_id", "lang"), "doc_id").alias("__r")
            )
            .select(F.col("__r.doc_id").alias("doc_id"), "content_hash",
                    F.col("__r.lang").alias("lang"))
        )
        # explicit existence check: a bare except here would also
        # swallow REAL read errors (corrupt footer, transient FS) and
        # silently skip cross-batch dedup
        if os.path.exists(sink):
            seen = batch_df.sparkSession.read.parquet(sink).select("content_hash")
            fresh = batch.join(seen, "content_hash", "left_anti")
        else:
            fresh = batch  # first batch: sink does not exist yet
        fresh.select("doc_id", "content_hash", "lang").write.mode(
            "append"
        ).parquet(sink)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(ingest).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(sink).select("doc_id", "content_hash", "lang")


# ---------------------------------------------------------------------------
# Checkpointed ingest RESUME (r10 stretch, r9 verdict item 7): the
# restart story next to streaming_corpus_ingest. The same bucketed
# corpus arrives in two phases: phase 1 streams buckets 0-1 through
# the quality-gate + dedup foreachBatch loop with a CHECKPOINT, then
# the query stops (a planned restart); buckets 2-3 land while the
# pipeline is down; phase 2 starts a NEW query on the SAME checkpoint
# and sink. Structured Streaming's file-source offset log makes the
# new query resume past the already-committed buckets — it processes
# exactly the two new files.
#
# The resume semantics are pinned BY THE VALUE ORACLE, not by timing
# assertions: every appended row is tagged with the ingest phase, and
# a kept doc's phase is a closed form of its bucket (doc_id % 4 < 2 →
# phase 1). If the phase-2 query reprocessed buckets 0-1, phase-1
# fingerprints would re-append (the anti-join absorbs same-hash
# re-delivery, but any quality-gated NEW survivor would double) and
# row counts shift; if it restarted from scratch (fresh checkpoint),
# buckets 0-1 would re-arrive tagged phase 2 and every phase flips.
# Either failure breaks the hash. tests/test_streaming.py additionally
# pins the offset-log continuity (4 committed batches, 2 per phase).
# 100 TB shape: identical to streaming_corpus_ingest — the checkpoint
# adds O(files) offset bookkeeping, no new data-scaled state.
# ---------------------------------------------------------------------------

_RESUME_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {_W} AS ws FROM documents),
q AS (SELECT doc_id, lang,
             md5(array_to_string(list_sort(list_distinct(ws)), ' '))
                 AS content_hash
      FROM t WHERE len(ws) >= 15),
k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY content_hash
                                   ORDER BY doc_id % 4, doc_id) AS rn
      FROM q)
SELECT CAST(CASE WHEN doc_id % 4 < 2 THEN 1 ELSE 2 END AS INT) AS phase,
       lang,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM k WHERE rn = 1
GROUP BY phase, lang
"""


@register("streaming_ingest_resume", _RESUME_ORACLE)
def streaming_ingest_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from ..runtime import scratch_dir

    src_all, schema = _docs_bucket_stream_dir(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    parent = scratch_dir("ingest_resume", tag)
    shutil.rmtree(parent, ignore_errors=True)
    run = os.path.join(parent, uuid.uuid4().hex[:8])
    src = os.path.join(run, "src")
    ckpt = os.path.join(run, "ckpt")
    sink = os.path.join(run, "sink")
    os.makedirs(src, exist_ok=True)

    phase = {"n": 1}

    def ingest(batch_df, batch_id: int) -> None:
        toks = tokens("text")
        batch = (
            batch_df.filter(F.size(toks) >= 15)
            .withColumn("content_hash", _bow_fingerprint(toks))
            .groupBy("content_hash")
            .agg(
                F.min_by(F.struct("doc_id", "lang"), "doc_id").alias("__r")
            )
            .select(F.col("__r.doc_id").alias("doc_id"), "content_hash",
                    F.col("__r.lang").alias("lang"))
        )
        if os.path.exists(sink):
            seen = batch_df.sparkSession.read.parquet(sink).select(
                "content_hash"
            )
            batch = batch.join(seen, "content_hash", "left_anti")
        batch.withColumn("phase", F.lit(phase["n"])).select(
            "doc_id", "content_hash", "lang", "phase"
        ).write.mode("append").parquet(sink)

    def run_query() -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # phase 1: only buckets 0-1 exist; copy2 preserves the staged
    # mtimes so FileStreamSource keeps the arrival order
    for b in (0, 1):
        shutil.copy2(os.path.join(src_all, f"bucket{b}.parquet"), src)
    run_query()

    # pipeline "down": buckets 2-3 arrive, then a NEW query resumes
    # from the same checkpoint
    phase["n"] = 2
    for b in (2, 3):
        shutil.copy2(os.path.join(src_all, f"bucket{b}.parquet"), src)
    run_query()

    return (
        spark.read.parquet(sink)
        .groupBy(F.col("phase").cast("int").alias("phase"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Contrastive triplet generation (anchor, positive, negative) — the
# pair-construction step of embedding/retrieval training. Positives =
# nearest same-fingerprint neighbor (bag-of-words collision, the same
# key the ingest pipeline dedupes on); negatives = deterministic
# hash-random draw over the dense doc_id domain, re-filtered so a
# drawn negative never shares the anchor's fingerprint. Every step is
# a join or hash aggregate; the corpus size rides as a 1-row broadcast.
# ---------------------------------------------------------------------------

_TRIPLET_ORACLE = f"""
WITH t AS (SELECT doc_id,
                  md5(array_to_string(list_sort(list_distinct({_W})), ' '))
                      AS fp
           FROM documents),
n AS (SELECT COUNT(*) AS n FROM t),
g AS (SELECT a.doc_id AS anchor_id, a.fp, MIN(b.doc_id) AS positive_id
      FROM t a JOIN t b ON a.fp = b.fp AND b.doc_id > a.doc_id
      GROUP BY 1, 2),
w AS (SELECT anchor_id, fp, positive_id,
             (anchor_id + 1 +
              CAST(('0x' || substring(md5(CAST(anchor_id AS VARCHAR) || 'neg'),
                                      1, 15)) AS BIGINT) % (n.n - 1)) % n.n
                 AS negative_id
      FROM g CROSS JOIN n)
SELECT anchor_id, positive_id, negative_id
FROM w JOIN t tn ON w.negative_id = tn.doc_id
WHERE tn.fp != w.fp
"""


@register("docs_contrastive_triplets", _TRIPLET_ORACLE)
def docs_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", _bow_fingerprint(tokens("text")).alias("fp"))
    n = t.agg(F.count("*").alias("n"))
    a, b = t.alias("a"), t.alias("b")
    g = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("b.doc_id") > F.col("a.doc_id")))
        .groupBy(F.col("a.doc_id").alias("anchor_id"), F.col("a.fp").alias("fp"))
        .agg(F.min("b.doc_id").alias("positive_id"))
    )
    neg = (
        F.col("anchor_id")
        + 1
        + F.conv(
            F.substring(
                F.md5(F.concat(F.col("anchor_id").cast("string"), F.lit("neg"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % (F.col("n") - 1)
    ) % F.col("n")
    w = g.crossJoin(F.broadcast(n)).withColumn("negative_id", neg)
    tn = t.select(
        F.col("doc_id").alias("negative_id"), F.col("fp").alias("fp_neg")
    )
    return (
        w.join(tn, "negative_id")
        .filter(F.col("fp_neg") != F.col("fp"))
        .select("anchor_id", "positive_id", "negative_id")
    )


# ---------------------------------------------------------------------------
# BPE encode (tokenizer inference): learn 2 merges, then count each
# document's tokens under the merged segmentation. The oracle unrolls
# the same relational greedy merge per round (generated parametrically
# below) and joins the per-word symbol counts back onto the exploded
# document words.
# ---------------------------------------------------------------------------


def _bpe_merge_block(i: int) -> str:
    """CTE block applying merge round `i`: consumes p{i}/pc{i},
    produces s{i+1}/p{i+1}/pc{i+1}. Same gaps-and-islands greedy merge
    as operators/bpe.py:_merge."""
    return f"""
best{i} AS (SELECT sym1 AS b1, sym2 AS b2
            FROM pc{i} ORDER BY cnt DESC, sym1, sym2 LIMIT 1),
ma{i} AS (SELECT p.*, COALESCE(p.sym = b.b1 AND p.nxt = b.b2, FALSE) AS match
          FROM p{i} p CROSS JOIN best{i} b),
mb{i} AS (SELECT *, CASE WHEN match THEN
                      ROW_NUMBER() OVER (PARTITION BY word, match ORDER BY pos)
                    END AS mrn FROM ma{i}),
mc{i} AS (SELECT *, match AND
                    (ROW_NUMBER() OVER (PARTITION BY word, match, pos - mrn
                                        ORDER BY pos) % 2 = 1) AS merged
          FROM mb{i}),
md{i} AS (SELECT *, COALESCE(LAG(merged) OVER (PARTITION BY word ORDER BY pos),
                             FALSE) AS consumed
          FROM mc{i}),
s{i + 1} AS (SELECT word, freq,
                    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
                    CASE WHEN merged THEN sym || nxt ELSE sym END AS sym
             FROM md{i} WHERE NOT consumed),
p{i + 1} AS (SELECT word, freq, pos, sym,
                    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
             FROM s{i + 1}),
pc{i + 1} AS (SELECT sym AS sym1, nxt AS sym2, SUM(freq)::BIGINT AS cnt
              FROM p{i + 1} WHERE nxt IS NOT NULL GROUP BY 1, 2)"""


_ENCODE_ORACLE = (
    f"""
WITH wt AS (SELECT w AS word, COUNT(*)::BIGINT AS freq
            FROM (SELECT UNNEST({_W}) AS w FROM documents) GROUP BY 1),
s1 AS (SELECT word, freq,
              UNNEST(range(1, LENGTH(word) + 1)) AS pos,
              UNNEST([word[i] for i in range(1, LENGTH(word) + 1)]) AS sym
       FROM wt),
p1 AS (SELECT word, freq, pos, sym,
              LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       FROM s1),
pc1 AS (SELECT sym AS sym1, nxt AS sym2, SUM(freq)::BIGINT AS cnt
        FROM p1 WHERE nxt IS NOT NULL GROUP BY 1, 2),"""
    + _bpe_merge_block(1)
    + ","
    + _bpe_merge_block(2)
    + f""",
nsym AS (SELECT word, COUNT(*)::BIGINT AS n_sym FROM s3 GROUP BY word),
dw AS (SELECT doc_id, UNNEST({_W}) AS word FROM documents)
SELECT dw.doc_id AS doc_id,
       COUNT(*)::BIGINT AS n_words,
       SUM(n.n_sym)::BIGINT AS n_tokens_bpe
FROM dw JOIN nsym n USING (word)
GROUP BY dw.doc_id
"""
)


@register("docs_bpe_encode_counts", _ENCODE_ORACLE)
def docs_bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_token_counts

    return bpe_encode_token_counts(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Capstone: the full corpus-cleaning funnel in one query — raw →
# exact dedup (min doc per content hash) → near-dup collapse (minhash
# pairs → connected components → canonical doc) → quality gate
# (≥15 tokens, ≥0.3 distinct fraction) — with doc/token counts per
# stage, the ledger every training-data pipeline reports. The oracle
# recomputes every stage including the CC fixpoint (recursive CTE);
# all-pairs oracle ⇒ sf0.01 gate only, like the other dedup oracles.
# ---------------------------------------------------------------------------

# label-propagation CTE text shared with the canonical-cluster oracle
# (fixtures_extensions defines the generator and the round bound)
from .fixtures_extensions import _CC_LABEL_ROUNDS as _ml_last  # noqa: E402
from .fixtures_extensions import _minlabel_rounds  # noqa: E402

_ml_rounds = _minlabel_rounds(_ml_last)

_FUNNEL_ORACLE = f"""
WITH
t AS (SELECT doc_id, text, {_W} AS ws, md5(text) AS fp FROM documents),
e AS (SELECT doc_id, ws FROM (
        SELECT doc_id, ws, fp,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM t) WHERE rn = 1),
-- r6 rewrite of the near-dup stage (last sf0.1 quadratic exclusion
-- in this family): identical-set collapse + df-ordered prefix filter
-- (the _MINHASH_ORACLE pattern from fixtures_extensions — sound for
-- Jaccard ≥ t since i ≥ t·|x| for either endpoint), then UNROLLED
-- min-label propagation on the collapsed rep graph (see the
-- _CANONICAL_ORACLE note in fixtures_extensions: pairwise recursive
-- reach accumulates Σ|component|² pairs against this corpus's
-- 1,593-rep giant component; label rounds are |V|-row joins).
-- Byte-identical output checked at sf0.01 before the swap.
sh0 AS MATERIALIZED (SELECT doc_id, list_sort(list_distinct(ws)) AS s FROM e
        WHERE len(ws) > 0),
key AS MATERIALIZED (SELECT doc_id, md5(array_to_string(s, chr(1))) AS gk FROM sh0),
grp AS MATERIALIZED (SELECT gk, MIN(doc_id) AS rep FROM key GROUP BY 1),
rsh AS MATERIALIZED (SELECT g.gk, k.s, len(k.s) AS sz
        FROM grp g JOIN sh0 k ON k.doc_id = g.rep),
tok AS MATERIALIZED (SELECT gk, UNNEST(s) AS g FROM rsh),
df AS (SELECT g, COUNT(*) AS dfreq FROM tok GROUP BY 1),
ord AS (SELECT gk, g,
               ROW_NUMBER() OVER (PARTITION BY gk ORDER BY dfreq, g) AS pos,
               COUNT(*) OVER (PARTITION BY gk) AS sz
        FROM tok JOIN df USING (g)),
pre AS (SELECT gk, g FROM ord
        WHERE pos <= sz - CAST(FLOOR(0.9 * sz) AS BIGINT) + 1),
cand AS (SELECT DISTINCT p.gk AS gka, q.gk AS gkb
         FROM pre p JOIN tok q ON p.g = q.g AND p.gk < q.gk),
inter AS (SELECT c.gka, c.gkb, COUNT(*) AS i
          FROM cand c
          JOIN tok ta ON ta.gk = c.gka
          JOIN tok tb ON tb.gk = c.gkb AND tb.g = ta.g
          GROUP BY 1, 2),
edge AS MATERIALIZED (SELECT i.gka, i.gkb
         FROM inter i JOIN rsh a ON a.gk = i.gka JOIN rsh b ON b.gk = i.gkb
         WHERE CAST(i.i AS DOUBLE) / (a.sz + b.sz - i.i) >= 0.9),
sym AS MATERIALIZED (SELECT gka AS a, gkb AS b FROM edge
        UNION ALL SELECT gkb, gka FROM edge),
{_ml_rounds},
comp AS (SELECT node, lbl AS ck FROM l{_ml_last}),
lbl AS (SELECT c.ck, MIN(k.doc_id) AS canonical FROM comp c
        JOIN key k ON k.gk = c.node GROUP BY c.ck),
s2 AS (
  SELECT e.doc_id, e.ws
  FROM e JOIN key k ON k.doc_id = e.doc_id
       JOIN comp c ON c.node = k.gk
       JOIN lbl l ON l.ck = c.ck
  WHERE l.canonical = e.doc_id
  UNION ALL
  SELECT e.doc_id, e.ws
  FROM e LEFT JOIN key k ON k.doc_id = e.doc_id
  WHERE k.doc_id IS NULL),
q AS (SELECT * FROM s2
      WHERE len(ws) >= 15
        AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= 0.3)
SELECT 0 AS stage, 'raw' AS name, COUNT(*) AS n_docs,
       SUM(len(ws))::BIGINT AS n_tokens FROM t
UNION ALL SELECT 1, 'exact_dedup', COUNT(*), SUM(len(ws))::BIGINT FROM e
UNION ALL SELECT 2, 'neardup_collapse', COUNT(*), SUM(len(ws))::BIGINT FROM s2
UNION ALL SELECT 3, 'quality_gate', COUNT(*), SUM(len(ws))::BIGINT FROM q
"""


@register("corpus_pipeline_funnel", _FUNNEL_ORACLE)
def corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "text",
        tokens("text").alias("ws"),
        F.md5("text").alias("fp"),
    )

    def stage(df, i, name):
        return df.agg(
            F.lit(i).alias("stage"),
            F.lit(name).alias("name"),
            F.count("*").alias("n_docs"),
            F.sum(F.size("ws")).alias("n_tokens"),
        ).select("stage", "name", "n_docs", "n_tokens")

    w = Window.partitionBy("fp").orderBy("doc_id")
    e = (
        t.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "text", "ws")
    )
    pairs = D.minhash_neardup_pairs(
        e, "doc_id", "text", threshold=0.9, num_hashes=96, bands=24
    )
    comp = D.connected_components(e.select("doc_id"), pairs, node_col="doc_id")
    s2 = e.join(
        comp.filter(F.col("node") == F.col("component")).select(
            F.col("node").alias("doc_id")
        ),
        "doc_id",
    )
    q = s2.filter(
        (F.size("ws") >= 15)
        & (F.size(F.array_distinct("ws")) / F.size("ws") >= 0.3)
    )
    return (
        stage(t, 0, "raw")
        .unionByName(stage(e, 1, "exact_dedup"))
        .unionByName(stage(s2, 2, "neardup_collapse"))
        .unionByName(stage(q, 3, "quality_gate"))
    )


# ---------------------------------------------------------------------------
# Corpus-specific stopword discovery: tokens whose document frequency
# exceeds 60% of the corpus — the data-driven stopword list a
# tokenizer/indexing pipeline derives before building inverted
# indexes. Exact integer threshold (df · 10 ≥ 6 · N).
# ---------------------------------------------------------------------------

_STOPWORD_ORACLE = f"""
WITH t AS (SELECT doc_id, list_distinct({_W}) AS ws FROM documents),
n AS (SELECT COUNT(*) AS n_docs FROM t),
df AS (SELECT w, COUNT(*) AS df FROM (SELECT doc_id, UNNEST(ws) AS w FROM t)
       GROUP BY w)
SELECT w, df.df,
       CAST((df.df * 10000) // n.n_docs AS BIGINT) AS df_bp
FROM df CROSS JOIN n
WHERE df.df * 10 >= 6 * n.n_docs
ORDER BY df.df DESC, w
"""


@register("corpus_stopword_discovery", _STOPWORD_ORACLE)
def corpus_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.array_distinct(tokens("text")).alias("ws"))
    n = t.agg(F.count("*").alias("n_docs"))
    df = (
        t.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("df"))
    )
    return (
        df.crossJoin(F.broadcast(n))
        .filter(F.col("df") * 10 >= 6 * F.col("n_docs"))
        .select(
            "w",
            "df",
            F.expr("(df * 10000) div n_docs").alias("df_bp"),
        )
        .orderBy(F.desc("df"), "w")
    )


# ---------------------------------------------------------------------------
# Per-source curation report: the quality profile that decides which
# SOURCES stay in the training mix — doc counts, token stats, and
# mean type-token/stopword ratios per `source`, every reported float
# derived from exact integers with identical op order.
# ---------------------------------------------------------------------------

_SOURCE_QUALITY_ORACLE = f"""
WITH t AS (SELECT source, {_W} AS ws FROM documents),
d AS (SELECT source, len(ws) AS n_tok,
             len(list_distinct(ws)) AS n_distinct,
             len(list_filter(ws, w -> w IN ('the','a','of','and','to','in',
                                            'is','for'))) AS n_stop
      FROM t)
SELECT source,
       COUNT(*) AS n_docs,
       SUM(n_tok)::BIGINT AS total_tokens,
       MIN(n_tok) AS min_tokens,
       MAX(n_tok) AS max_tokens,
       ROUND(SUM(n_distinct)::DOUBLE / SUM(n_tok), 4) AS mean_ttr,
       ROUND(SUM(n_stop)::DOUBLE / SUM(n_tok), 4) AS mean_stop_frac
FROM d GROUP BY source
"""


@register("docs_source_quality_report", _SOURCE_QUALITY_ORACLE)
def docs_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.text import STOPWORDS_EN, _in_list

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.expr(
            "transform(array(" + "split(lower(trim(text)), '\\\\s+')"
            + "), __t -> struct("
            "CAST(size(__t) AS BIGINT) AS n_tok, "
            "CAST(size(array_distinct(__t)) AS BIGINT) AS n_distinct, "
            f"CAST(size(filter(__t, w -> {_in_list('w', STOPWORDS_EN)})) AS BIGINT)"
            " AS n_stop))[0]"
        ).alias("__f"),
    ).select("source", "__f.n_tok", "__f.n_distinct", "__f.n_stop")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.min("n_tok").alias("min_tokens"),
        F.max("n_tok").alias("max_tokens"),
        F.round(F.sum("n_distinct") / F.sum("n_tok"), 4).alias("mean_ttr"),
        F.round(F.sum("n_stop") / F.sum("n_tok"), 4).alias("mean_stop_frac"),
    )
