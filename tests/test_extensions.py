"""Unit/property tests for the LLM-pipeline extension operators:
planted near-duplicates, recall of the candidate generators, exactness
of verification, multimodal plumbing, streaming windows."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from airline_dataset_hadoop_public_spark.operators import dedup as D
from airline_dataset_hadoop_public_spark.operators import multimodal as M
from airline_dataset_hadoop_public_spark.operators import similarity as S
from airline_dataset_hadoop_public_spark.operators import text as X


BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the old river bank"  # one word dropped
FAR = "completely different words about spark catalyst optimizer and shuffles everywhere"


@pytest.fixture()
def docs(spark):
    rows = [
        (0, BASE),
        (1, NEAR),
        (2, FAR),
        (3, BASE),  # exact duplicate of 0
        (4, "  THE  quick   Brown fox JUMPS over the lazy dog near the old river bank today "),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_normalized(spark, docs):
    from airline_dataset_hadoop_public_spark.functions.scalar import normalize_text

    d = docs.withColumn("norm", normalize_text())
    out = {r["doc_id"]: r["n_copies"] for r in D.exact_dedup(d, "norm").collect()}
    # docs 0, 3, 4 normalize identically → group keeps min id 0 with 3 copies
    assert out[0] == 3
    assert out[1] == 1 and out[2] == 1


def test_minhash_finds_planted_neardup(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_neardup_pairs(docs, threshold=0.8).collect()
    }
    assert (0, 1) in pairs  # near-dup (one word removed)
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # exact dup
    assert not any(2 in p for p in pairs)  # FAR is not a dup of anything


def test_ngram_prefix_filter_equals_bruteforce(spark):
    # random-ish corpus with overlapping sentences; prefix-filter result
    # must equal the all-pairs ground truth (exact recall).
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(30):
        toks = [words[(i * 7 + j * 3) % len(words)] for j in range(12)]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fast = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(df, n=2, threshold=0.4).collect()
    }
    # brute force via the verifier on ALL pairs
    sh = D._shingled(df, 2)
    ids = df.select("doc_id")
    all_pairs = (
        ids.alias("a")
        .crossJoin(ids.alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    truth = {
        (r["id_a"], r["id_b"])
        for r in D._verify_jaccard(all_pairs, sh, 0.4).collect()
    }
    assert fast == truth and len(truth) > 0


def test_simhash_exact_dup_distance_zero(spark, docs):
    # Short docs: one dropped word can flip many bits (every token
    # votes on all 64), so only exact/normalized dups are asserted.
    pairs = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in D.simhash_pairs(docs).collect()
    }
    assert pairs == {(0, 3): 0, (0, 4): 0, (3, 4): 0}


def test_brute_force_topk_planted_neighbor(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = [(i, rng.normal(size=16).astype(float).tolist()) for i in range(50)]
    # vec 40 := vec 0 scaled → cosine exactly 1 with vec 0
    vecs[40] = (40, [2.0 * x for x in vecs[0][1]])
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    probes = df.filter(F.col("vec_id") == 0)
    top = S.brute_force_topk(df, probes, k=3).collect()
    assert top[0]["probe_id"] == 0
    best = sorted(top, key=lambda r: -r["cosine"])[0]
    assert best["neighbor_id"] == 40 and best["cosine"] == 1.0


def test_ivf_assignment_covers_all_vectors(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = [(i, rng.normal(size=8).tolist()) for i in range(40)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    cents = df.filter(F.col("vec_id") < 4)
    assigned = S.assign_to_centroids(df, cents)
    assert assigned.count() == 40
    assert assigned.select("centroid_id").distinct().count() <= 4
    # every vector got exactly one cell
    assert assigned.select("vec_id").distinct().count() == 40


def test_quality_scores_known_values(spark):
    df = spark.createDataFrame([(1, "the cat the mat")], ["doc_id", "text"])
    r = X.quality_scores(df).collect()[0]
    assert r["n_tokens"] == 4
    assert r["stopword_ratio"] == 0.5  # 'the' twice out of 4
    assert r["type_token_ratio"] == 0.75  # {the, cat, mat}
    assert r["avg_token_len"] == 3.0


def test_langid_precedence_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "xyz abc qqq"), (2, "el la de que y en los")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["pred_lang"] for r in X.langid_scores(df).collect()}
    assert out[1] == "en"  # all-zero scores → precedence picks en
    assert out[2] == "es"


def test_fingerprint_matches_hashlib(spark):
    import hashlib

    df = spark.createDataFrame([(1, "  Hello   WORLD  ")], ["doc_id", "text"])
    got = X.fingerprints(df).collect()[0]["fingerprint"]
    assert got == hashlib.md5(b"hello world").hexdigest()


def test_multimodal_features_match_python(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], ["doc_id", "text"])
    out = {
        r["id"]: (r["n_bytes"], r["first_byte"], r["checksum"])
        for r in M.extract_byte_features(M.with_binary_payload(df)).collect()
    }
    assert out[1] == (3, ord("a"), (3 * 31 + ord("a")) % 1000)
    assert out[2] == (0, -1, 0)


def test_decode_media_is_explicit_stub(spark):
    with pytest.raises(NotImplementedError):
        M.decode_media(None)


def test_streaming_append_watermark_withholds_open_window(spark, tmp_path):
    """Append mode only emits windows the watermark has passed —
    the final (still-open) window is withheld, unlike complete mode."""
    from airline_dataset_hadoop_public_spark.streaming.windows import (
        run_file_stream_batch,
        windowed_agg,
    )

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:05", "2024-01-01 00:20", "2024-01-01 01:10",
                 "2024-01-01 02:30", "2024-01-01 05:00"]
            ),
            "event_type": ["a"] * 5,
            "value": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    src = str(tmp_path / "events")
    spark.createDataFrame(pdf).write.parquet(src)
    schema = spark.read.parquet(src).schema

    plan = lambda s: windowed_agg(s, "1 hour", watermark="30 minutes")
    complete = run_file_stream_batch(spark, src, schema, plan, "complete")
    append = run_file_stream_batch(spark, src, schema, plan, "append")
    n_complete, n_append = complete.count(), append.count()
    assert n_complete == 4  # hours 00,01,02,05
    assert n_append < n_complete  # open window(s) withheld by watermark
    # emitted append rows agree with the batch/complete result
    emitted = {tuple(r) for r in append.collect()}
    assert emitted <= {tuple(r) for r in complete.collect()}


def test_ivf_recall_matches_python_set_intersection(spark):
    """similarity_ivf_recall must equal the set-intersection of the
    engine's own exact and IVF rankings, computed independently in
    Python — and recall is structurally bounded: 0 <= n_hit <=
    n_exact = k."""
    from airline_dataset_hadoop_public_spark.plans.fixtures_extensions import (
        similarity_ivf_recall,
    )
    from airline_dataset_hadoop_public_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8)
    probes = emb.filter(F.col("vec_id") < 5)
    exact = {}
    for r in S.brute_force_topk(emb, probes, k=5).collect():
        exact.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in S.ivf_topk(emb, centroids, probes).collect():
        approx.setdefault(r["probe_id"], set()).add(r["neighbor_id"])

    got = {r["probe_id"]: r for r in similarity_ivf_recall(spark, sf).collect()}
    assert set(got) == set(exact)
    for pid, r in got.items():
        hit = len(exact[pid] & approx.get(pid, set()))
        assert r["n_exact"] == len(exact[pid]) == 5
        assert r["n_hit"] == hit
        assert 0 <= r["n_hit"] <= r["n_exact"]
        assert r["recall_at_k"] == round(hit / 5, 4)
