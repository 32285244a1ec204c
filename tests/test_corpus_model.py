"""Corpus-model wave (operators/lm.py, operators/bpe.py, PQ in
operators/similarity.py): each kernel is checked against an
independent in-process reference — pure-Python greedy BPE, numpy ADC,
hand-computed LM probabilities — not just the DuckDB oracle."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from airline_dataset_hadoop_public_spark.operators.bpe import bpe_pair_merge_rounds
from airline_dataset_hadoop_public_spark.operators.lm import (
    bigram_lm_scores,
    dup_ngram_char_fracs,
)
from airline_dataset_hadoop_public_spark.operators.similarity import pq_adc_topk

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# bigram LM
# ---------------------------------------------------------------------------


def test_bigram_lm_hand_case(spark):
    # corpus: "a b a" and "b a". unigrams: a×3, b×2 → V=2
    # bigrams: doc0: (a,b),(b,a); doc1: (b,a)
    # c(a,b)=1, c(b,a)=2; c(a)=3, c(b)=2; k=0.5
    docs = spark.createDataFrame([(0, "a b a"), (1, "b a")], ["doc_id", "text"])
    out = {
        r["doc_id"]: r for r in bigram_lm_scores(docs).collect()
    }
    p_ab = (1 + 0.5) / (3 + 0.5 * 2)
    p_ba = (2 + 0.5) / (2 + 0.5 * 2)
    assert out[0]["n_bigrams"] == 2
    assert out[0]["lm_score"] == pytest.approx(
        round((math.log(p_ab) + math.log(p_ba)) / 2, 4)
    )
    assert out[1]["n_bigrams"] == 1
    assert out[1]["lm_score"] == pytest.approx(round(math.log(p_ba), 4))


def test_bigram_lm_drops_short_docs_and_stays_jvm_side(spark):
    docs = spark.createDataFrame(
        [(0, "one"), (1, "two words here")], ["doc_id", "text"]
    )
    res = bigram_lm_scores(docs)
    assert [r["doc_id"] for r in res.collect()] == [1]
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan  # pure built-in expressions


# ---------------------------------------------------------------------------
# repetition fractions
# ---------------------------------------------------------------------------


def test_dup_ngram_fracs_hand_case(spark):
    # "x y z x y z x y" → 3-grams: xyz,yzx,zxy,xyz,yzx,zxy → six grams,
    # each appearing 2× → dup3_frac = 1.0
    # 2-grams: xy×3, yz×2, zx×2 → top2 = "x y" (3 of 7, each len 3)
    docs = spark.createDataFrame([(0, "x y z x y z x y")], ["doc_id", "text"])
    row = dup_ngram_char_fracs(docs).collect()[0]
    assert row["n_grams3"] == 6
    assert row["dup3_frac"] == pytest.approx(1.0)
    assert row["top2_frac"] == pytest.approx(round(3 * 3 / (7 * 3), 4))


def test_dup_ngram_fracs_no_repetition(spark):
    docs = spark.createDataFrame([(0, "a bb ccc dddd")], ["doc_id", "text"])
    row = dup_ngram_char_fracs(docs).collect()[0]
    assert row["dup3_frac"] == 0.0
    # 2-grams: "a bb"(4), "bb ccc"(6), "ccc dddd"(8): top is the
    # lexically smallest among count-1 ties → "a bb", mass 4/18
    assert row["top2_frac"] == pytest.approx(round(4 / 18, 4))


# ---------------------------------------------------------------------------
# BPE vs pure-Python greedy reference
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "corpus",
    [
        # self-pair runs exercise the odd-offset parity path: "aaaa"
        # must merge to (aa)(aa), "aaa" to (aa)a
        ["aaaa aaa aa baaab", "aa aaaa abab abab"],
        ["low lower lowest low low", "newer newest new low wider"],
    ],
)
def test_bpe_matches_python_reference(spark, corpus):
    docs = spark.createDataFrame(list(enumerate(corpus)), ["doc_id", "text"])
    got = [
        (r["round"], r["rank"], r["sym1"], r["sym2"], r["cnt"])
        for r in bpe_pair_merge_rounds(docs, rounds=2, topn=10)
        .orderBy("round", "rank")
        .collect()
    ]
    words = [w for line in corpus for w in line.split()]
    from bpe_reference import ref_bpe_learn

    assert got == ref_bpe_learn(words, 2)[0]


# ---------------------------------------------------------------------------
# PQ vs numpy reference
# ---------------------------------------------------------------------------


def test_pq_adc_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    m, dsub, ksub, nprobe, k = 4, 16, 16, 5, 10

    codebook = X[:ksub].reshape(ksub, m, dsub)  # [j, s, d]
    Xs = X.reshape(len(X), m, dsub)
    # encode: argmin_j ||x_s - c_{s,j}||², tie → smallest j
    d2 = ((Xs[:, None, :, :] - codebook[None, :, :, :]) ** 2).sum(-1)  # [n,j,s]
    codes = d2.argmin(axis=1)  # [n, s]
    expected = {}
    for p in range(nprobe):
        # ADC distance via the probe's own distance table
        adc = d2[p][codes, np.arange(m)[None, :]].sum(axis=1)
        order = sorted((adc[i], ids[i]) for i in range(len(X)) if ids[i] != p)
        expected[p] = [(int(v), round(a, 4)) for a, v in order[:k]]

    got: dict[int, list] = {}
    for r in pq_adc_topk(emb).orderBy("probe_id", "rank").collect():
        got.setdefault(r["probe_id"], []).append(
            (r["neighbor_id"], r["adc_dist"])
        )
    for p in range(nprobe):
        g_ids = [i for i, _ in got[p]]
        e_ids = [i for i, _ in expected[p]]
        assert g_ids == e_ids
        for (gi, gd), (ei, ed) in zip(got[p], expected[p]):
            assert gd == pytest.approx(ed, abs=2e-4)


def test_pq_plan_broadcasts_and_avoids_vector_shuffle(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = pq_adc_topk(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # codebook + dtable broadcast
    assert "PythonUDF" not in plan


# ---------------------------------------------------------------------------
# hashed-n-gram classifier vs hashlib reference
# ---------------------------------------------------------------------------


def test_hashed_classifier_matches_hashlib(spark):
    import hashlib

    from airline_dataset_hadoop_public_spark.operators.lm import (
        hashed_ngram_classifier,
    )

    texts = {0: "alpha beta gamma", 1: "one", 2: "x y x y"}
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])

    def ref(text):
        ws = text.split()
        feats = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        s = 0.0
        for f in feats:
            bk = int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % 1024
            w = (
                int(hashlib.md5(f"w{bk}".encode()).hexdigest()[:15], 16) % 2001
                - 1000
            ) / 1000.0
            s += w
        p = 1.0 / (1.0 + math.exp(-(s / len(feats))))
        return len(feats), round(p, 4), int(p >= 0.5)

    got = {
        r["doc_id"]: (r["n_feats"], r["p_keep"], r["keep"])
        for r in hashed_ngram_classifier(docs).collect()
    }
    for i, t in texts.items():
        n, p, k = ref(t)
        assert got[i][0] == n
        assert got[i][1] == pytest.approx(p, abs=1e-4)
        assert got[i][2] == k


# ---------------------------------------------------------------------------
# streaming corpus ingest: the 4-micro-batch run must equal the
# closed-form batch rule (argmin (bucket, doc_id) per fingerprint
# among quality-passing docs) and must actually drop documents
# ---------------------------------------------------------------------------


def test_stream_mirror_restamps_bucket_order(spark):
    """A mirror whose mtimes were reset (a ``cp -r`` copy keeps the
    ``_READY`` marker) gets its bucket 0 → 3 arrival order back on the
    next call."""
    import os

    from airline_dataset_hadoop_public_spark.plans.fixtures_corpus_model import (
        _docs_bucket_stream_dir,
    )

    path, _ = _docs_bucket_stream_dir(spark, SF)
    files = [os.path.join(path, f"bucket{b}.parquet") for b in range(4)]
    later = os.stat(files[3]).st_mtime + 100
    os.utime(files[0], (later, later))
    assert _docs_bucket_stream_dir(spark, SF)[0] == path
    mtimes = [os.stat(f).st_mtime for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


def test_streaming_ingest_equals_batch_rule(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from airline_dataset_hadoop_public_spark.plans.fixtures_corpus_model import (
        streaming_corpus_ingest,
    )

    got = streaming_corpus_ingest(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    q = docs.filter(F.size(toks) >= 15).select(
        "doc_id",
        "lang",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "content_hash"
        ),
    )
    w = Window.partitionBy("content_hash").orderBy(
        F.col("doc_id") % 4, F.col("doc_id")
    )
    expect = (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash", "lang")
    )
    n_docs = docs.count()
    got_rows = {tuple(r) for r in got.collect()}
    exp_rows = {tuple(r) for r in expect.collect()}
    assert got_rows == exp_rows
    assert len(got_rows) < n_docs  # the dedup/quality paths really fire


# ---------------------------------------------------------------------------
# contrastive triplets: semantic invariants
# ---------------------------------------------------------------------------


def test_contrastive_triplets_invariants(spark):
    from airline_dataset_hadoop_public_spark.plans.fixtures_corpus_model import (
        docs_contrastive_triplets,
    )

    rows = docs_contrastive_triplets(spark, SF).collect()
    assert rows  # fingerprint collisions exist in the fixture corpus
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id",
            F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
                "fp"
            ),
        ).collect()
    }
    for r in rows:
        a, p, n = r["anchor_id"], r["positive_id"], r["negative_id"]
        assert fp[a] == fp[p] and p > a  # positive shares the fingerprint
        assert fp[n] != fp[a] and n != a  # negative never does


# ---------------------------------------------------------------------------
# BPE encode vs Python reference
# ---------------------------------------------------------------------------


def test_bpe_encode_counts_match_python_reference(spark):
    from airline_dataset_hadoop_public_spark.operators.bpe import (
        bpe_encode_token_counts,
    )
    from bpe_reference import ref_bpe_learn

    corpus = ["aaaa abab low lower", "low low newer aaaa abab abab"]
    docs = spark.createDataFrame(list(enumerate(corpus)), ["doc_id", "text"])

    # learn 2 merges with the reference learner, then segment
    words = [w for line in corpus for w in line.split()]
    _, seqs = ref_bpe_learn(words, 2)

    expect = {
        d: (len(line.split()), sum(len(seqs[w]) for w in line.split()))
        for d, line in enumerate(corpus)
    }
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens_bpe"])
        for r in bpe_encode_token_counts(docs).collect()
    }
    assert got == expect


def test_bpe_ignores_empty_words(spark):
    """A whitespace-only document tokenizes to [''] on the Spark side;
    the empty word must contribute NO symbols (Spark's sequence(1, 0)
    is the descending [1, 0], which once emitted phantom ('','')
    pairs — regression for that)."""
    from bpe_reference import ref_bpe_learn

    corpus = ["ab ab", "   ", "ba"]
    docs = spark.createDataFrame(list(enumerate(corpus)), ["doc_id", "text"])
    got = [
        (r["round"], r["rank"], r["sym1"], r["sym2"], r["cnt"])
        for r in bpe_pair_merge_rounds(docs, rounds=2, topn=10)
        .orderBy("round", "rank")
        .collect()
    ]
    words = [w for line in corpus for w in line.split()]
    assert got == ref_bpe_learn(words, 2)[0]
    assert all(r[2] != "" and r[3] != "" for r in got)


# ---------------------------------------------------------------------------
# BPE merge-loop lineage bound: per-round localCheckpoint keeps the
# symbol frame's analyzed plan at CONSTANT depth, so a production
# tokenizer run (30k merges) is compute-bound, not lineage-bound.
# Probes the real loop (bpe_pair_merge_rounds probe hook), 50 rounds.
# ---------------------------------------------------------------------------


def test_bpe_50_round_plan_depth_constant(spark):
    docs = spark.createDataFrame(
        [(i, "low lower lowest newer new wide widest best better") for i in range(8)],
        ["doc_id", "text"],
    )
    depths: dict[int, int] = {}

    def probe(r, sym):
        depths[r] = sym._jdf.queryExecution().analyzed().treeString().count("\n")

    out = bpe_pair_merge_rounds(docs, rounds=50, topn=1, probe=probe)
    # rounds 2..50 are post-checkpoint: depth must be EXACTLY constant
    # (LogicalRDD scan + the fixed merge-expression stack), not creeping
    post = [depths[r] for r in range(2, 51)]
    assert len(set(post)) == 1, f"lineage grew: {sorted(set(post))}"
    # round 1 (pre-any-checkpoint) may differ but must not be deeper
    assert depths[1] >= 0
    # sanity: the learned schedule still materializes. The tiny corpus
    # EXHAUSTS its merges partway through (pair table goes empty, later
    # rounds emit no rank rows) — which also pins that the loop is
    # robust to an empty pair table at any round.
    rows = out.filter(F.col("rank") == 1).collect()
    assert 10 <= len(rows) <= 50
    assert [r["round"] for r in rows] == list(range(1, len(rows) + 1))


# ---------------------------------------------------------------------------
# checkpointed ingest resume (r10): the phase-2 query must RESUME the
# file-source offset log (batches 2-3), not reprocess or restart —
# the value oracle pins the semantics, this pins the mechanism
# ---------------------------------------------------------------------------


def test_ingest_resume_offset_log_continuity(spark):
    import os

    from pyspark.sql import functions as F

    from airline_dataset_hadoop_public_spark.plans.fixtures_corpus_model import (
        streaming_ingest_resume,
    )
    from airline_dataset_hadoop_public_spark.runtime import scratch_dir

    out = streaming_ingest_resume(spark, SF).collect()

    # locate this run's checkpoint (the fixture clears its parent and
    # writes exactly one uuid run dir)
    parent = scratch_dir("ingest_resume", os.path.basename(SF))
    runs = [d for d in os.listdir(parent) if not d.startswith("_")]
    assert len(runs) == 1
    ckpt = os.path.join(parent, runs[0], "ckpt")
    offsets = {
        n for n in os.listdir(os.path.join(ckpt, "offsets"))
        if n.isdigit()
    }
    commits = {
        n for n in os.listdir(os.path.join(ckpt, "commits"))
        if n.isdigit()
    }
    # ONE continuous batch sequence across both queries: 2 batches per
    # phase (maxFilesPerTrigger=1, 2 files each). A restart-from-
    # scratch would reset to {0,1}; a reprocess would exceed 4.
    assert offsets == {"0", "1", "2", "3"}, offsets
    assert commits == {"0", "1", "2", "3"}, commits

    # every sink row's phase matches the closed-form bucket rule the
    # oracle states: bucket < 2 → phase 1, else phase 2
    sink = os.path.join(parent, runs[0], "sink")
    rows = spark.read.parquet(sink).select(
        "phase", (F.col("doc_id") % 4).alias("b")
    ).collect()
    assert rows and all(
        r["phase"] == (1 if r["b"] < 2 else 2) for r in rows
    )
    # and the aggregate the driver sees covers both phases
    assert {r["phase"] for r in out} == {1, 2}
