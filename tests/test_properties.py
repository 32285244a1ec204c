"""Property-based tests (SURVEY.md §5.2) — hypothesis-generated frames
checked against plain-Python ground truth, plus the bucketed-join
no-shuffle guarantee."""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Row
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_kv = st.lists(
    st.tuples(st.integers(0, 4), st.integers(-50, 50), st.integers(0, 9)),
    min_size=1,
    max_size=60,
)


@given(rows=_kv, k=st.integers(1, 4))
@settings(**_SETTINGS)
def test_top_k_per_group_matches_python(spark, rows, k):
    from airline_dataset_hadoop_public_spark.operators.topk import top_k_per_group

    df = spark.createDataFrame(
        [Row(g=g, v=v, uid=i) for i, (g, v, _) in enumerate(rows)]
    )
    got = sorted(
        (r["g"], r["v"], r["uid"])
        for r in top_k_per_group(df, ["g"], [F.asc("v"), F.asc("uid")], k).collect()
    )
    groups = defaultdict(list)
    for i, (g, v, _) in enumerate(rows):
        groups[g].append((v, i))
    expect = sorted(
        (g, v, uid) for g, vs in groups.items() for v, uid in sorted(vs)[:k]
    )
    assert got == expect


@given(rows=_kv)
@settings(**_SETTINGS)
def test_argmin_by_matches_python(spark, rows):
    from airline_dataset_hadoop_public_spark.operators.argmin import argmin_by

    df = spark.createDataFrame(
        [Row(g=g, v=v, p=p, uid=i) for i, (g, v, p) in enumerate(rows)]
    )
    got = {
        r["g"]: (r["v"], r["uid"], r["p"])
        for r in argmin_by(df, ["g"], ["v", "uid"], ["p"]).collect()
    }
    groups = defaultdict(list)
    for i, (g, v, p) in enumerate(rows):
        groups[g].append((v, i, p))
    expect = {g: min(vs) for g, vs in groups.items()}
    assert got == expect


@given(
    date=st.dates(dt.date(2008, 1, 1), dt.date(2008, 12, 31)),
    hh=st.integers(24, 29),
    mm=st.integers(0, 59),
    delay=st.integers(-120, 120),
)
@settings(**_SETTINGS)
def test_date_repair_rollover_any_day(spark, date, hh, mm, delay):
    """P5 risk-register case (SURVEY.md §7.3): hour>23 repair across
    month/year boundaries, composed with the −delay sched arithmetic."""
    from airline_dataset_hadoop_public_spark.plans.airline import leg_candidates
    from airline_dataset_hadoop_public_spark.sources.ingest import ONTIME_SCHEMA

    row = dict(
        FlightDate=date,
        UniqueCarrier="AA",
        FlightNum=1,
        Origin="ORD",
        Dest="JFK",
        DepTime=f"{hh:02d}{mm:02d}",
        DepDelay=float(delay),
        ArrDelay=0.0,
    )
    df = spark.createDataFrame([row], schema=ONTIME_SCHEMA)
    [leg] = leg_candidates(df).collect()
    expect = dt.datetime.combine(date, dt.time(0, 0)) + dt.timedelta(
        days=1, hours=hh - 24, minutes=mm
    ) - dt.timedelta(minutes=delay)
    assert leg["sched_dep"] == expect


@given(
    text=st.text(
        alphabet=st.sampled_from(list("abcXYZ019 .!\t")), min_size=0, max_size=80
    )
)
@settings(**_SETTINGS)
def test_rolling_hash_matches_python_any_text(spark, text):
    from airline_dataset_hadoop_public_spark.operators.text import rolling_hash

    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    [row] = rolling_hash(df, "doc_id", "text").collect()
    # normalize_text = regexp_replace(lower(trim(x)), '\s+', ' ') with
    # SQL trim semantics: strips SPACES only (tabs survive into the
    # whitespace-collapse step) — identical in Spark and DuckDB
    import re

    norm = re.sub(r"\s+", " ", text.lower().strip(" "))
    expect = 0
    for ch in norm:
        expect = (expect * 31 + ord(ch)) % 1_000_000_007
    assert row["rhash"] == expect


def test_salted_join_equals_plain_join(spark):
    """90%-hot-key corpus: the salted join must return exactly the
    plain join's multiset of rows."""
    from airline_dataset_hadoop_public_spark.operators.skew import salted_join

    rows = [Row(k=(0 if i % 10 else i % 7), v=i) for i in range(2000)]
    skewed = spark.createDataFrame(rows)
    small = spark.createDataFrame([Row(k=k, name=f"dim_{k}") for k in range(7)])
    got = sorted(
        (r["k"], r["v"], r["name"])
        for r in salted_join(skewed, small, ["k"], n_salt=4).collect()
    )
    expect = sorted(
        (r["k"], r["v"], r["name"])
        for r in skewed.join(small, ["k"]).collect()
    )
    assert got == expect


_texts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
        min_size=0,
        max_size=120,
    ),
    min_size=1,
    max_size=12,
)


@given(texts=_texts)
@settings(**_SETTINGS)
def test_winnowing_kernel_matches_bruteforce(spark, texts):
    """Arrow winnowing kernel == brute-force python winnowing (same
    normalization, k-gram rolling hash, rightmost-min window rule)."""
    import re

    from airline_dataset_hadoop_public_spark.operators.text import (
        winnowing_fingerprints,
    )

    k, w, base, mod, pb = 5, 4, 31, 1_000_000_007, 1 << 20

    def brute(s):
        # Java \s is ASCII-only ([ \t\n\x0b\f\r]) and Spark trim
        # strips spaces — Python's Unicode \s/strip would also eat
        # \xa0 etc. and diverge
        nm = re.sub(r"[ \t\n\x0b\f\r]+", " ", s.strip(" ").lower())
        n = len(nm)
        if n < k or n - k + 1 < w:
            return set()
        hs = []
        for i in range(n - k + 1):
            h = 0
            for ch in nm[i : i + k]:
                h = (h * base + ord(ch)) % mod
            hs.append(h * pb + (pb - 1 - (i + 1)))
        mins = {min(hs[p : p + w]) for p in range(len(hs) - w + 1)}
        return {(pb - 1 - c % pb, c // pb) for c in mins}

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = defaultdict(set)
    for r in winnowing_fingerprints(df, "doc_id", "text", k, w).collect():
        got[r["doc_id"]].add((r["pos"], r["khash"]))
    for i, t in enumerate(texts):
        assert got.get(i, set()) == brute(t), (i, t)


@given(texts=_texts)
@settings(**_SETTINGS)
def test_simhash_kernel_matches_bruteforce(spark, texts):
    """numpy vote kernel == per-bit python majority vote over the same
    md5-derived shingle hashes."""
    import hashlib
    import re

    from airline_dataset_hadoop_public_spark.operators.dedup import (
        simhash_signature,
    )

    def brute(s):
        # keep empty tokens: split('') == [''] in Spark and DuckDB
        # alike, so an all-whitespace doc has ONE empty shingle;
        # ASCII-only whitespace to match Java \s and Spark trim
        toks = re.split(r"[ \t\n\x0b\f\r]+", s.strip(" ").lower())
        sh = sorted(set(toks))
        if not sh:
            return None
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in sh]
        sig = 0
        for j in range(64):
            votes = sum(1 if (h >> j) & 1 else -1 for h in hs)
            if votes > 0:
                sig |= 1 << j
        return sig

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signature(
            df, "doc_id", "text", portable_hash=True
        ).collect()
    }
    for i, t in enumerate(texts):
        expect = brute(t)
        assert got.get(i) == expect, (i, t)


# ---------------------------------------------------------------------------
# relational kernels: merge upsert and SCD-2 run collapse vs
# plain-Python references
# ---------------------------------------------------------------------------

_merge_side = st.lists(
    st.tuples(st.integers(0, 9), st.text("ab", max_size=2)), max_size=20
)


@given(base_rows=_merge_side, delta_rows=_merge_side)
@settings(**_SETTINGS)
def test_merge_upsert_matches_dict_semantics(spark, base_rows, delta_rows):
    from airline_dataset_hadoop_public_spark.operators.relational import (
        merge_upsert,
    )

    # keys must be unique per side, as a MERGE source/target requires
    base_rows = list({k: (k, v) for k, v in base_rows}.values())
    delta_rows = list({k: (k, v) for k, v in delta_rows}.values())
    expect = dict(base_rows)
    expect.update(dict(delta_rows))
    schema = "k INT, v STRING"
    base = (
        spark.createDataFrame(base_rows, schema)
        if base_rows
        else spark.createDataFrame([], schema)
    )
    delta = (
        spark.createDataFrame(delta_rows, schema)
        if delta_rows
        else spark.createDataFrame([], schema)
    )
    got = {r["k"]: r["v"] for r in merge_upsert(base, delta, ["k"]).collect()}
    assert got == expect


@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from("xyz")), max_size=25
    )
)
@settings(**_SETTINGS)
def test_scd2_matches_run_length_reference(spark, events):
    from airline_dataset_hadoop_public_spark.operators.relational import (
        scd2_intervals,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (ent, attr, t0 + dt.timedelta(hours=i), i)
        for i, (ent, attr) in enumerate(events)
    ]
    # reference: per entity, order by (ts, uid) == insertion order here;
    # collapse consecutive equal attrs into (attr, run_length) runs
    ref: dict[int, list[tuple[str, int]]] = defaultdict(list)
    for ent, attr, _, _ in rows:
        runs = ref[ent]
        if runs and runs[-1][0] == attr:
            runs[-1] = (attr, runs[-1][1] + 1)
        else:
            runs.append((attr, 1))
    schema = "ent INT, attr STRING, ts TIMESTAMP, uid INT"
    df = (
        spark.createDataFrame(rows, schema)
        if rows
        else spark.createDataFrame([], schema)
    )
    collected = scd2_intervals(df, "ent", "attr", "ts", "uid").collect()
    got: dict[int, list[tuple[str, int]]] = defaultdict(list)
    for r in sorted(collected, key=lambda r: (r["ent"], r["version"])):
        got[r["ent"]].append((r["attr"], r["n_rows"]))
    assert dict(got) == dict(ref)
    # exactly one current version per entity, and it is the max version
    for ent in ref:
        ent_rows = [r for r in collected if r["ent"] == ent]
        cur = [r for r in ent_rows if r["is_current"]]
        assert len(cur) == 1
        assert cur[0]["version"] == max(r["version"] for r in ent_rows)
        assert [r["version"] for r in sorted(ent_rows, key=lambda r: r["version"])] == list(
            range(1, len(ent_rows) + 1)
        )


_bpe_words = st.lists(
    st.text(alphabet="ab", min_size=1, max_size=6),
    min_size=1,
    max_size=12,
)


@given(words=_bpe_words)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_relational_merge_matches_greedy_reference(spark, words):
    """The gaps-and-islands + offset-parity merge must equal greedy
    left-to-right for ANY corpus — the {a,b} alphabet maximizes
    self-pair runs ('aaaa'), the only case where matches overlap."""
    from airline_dataset_hadoop_public_spark.operators.bpe import (
        bpe_pair_merge_rounds,
    )

    docs = spark.createDataFrame([(0, " ".join(words))], ["doc_id", "text"])
    got = [
        (r["round"], r["rank"], r["sym1"], r["sym2"], r["cnt"])
        for r in bpe_pair_merge_rounds(docs, rounds=2, topn=10)
        .orderBy("round", "rank")
        .collect()
    ]

    from bpe_reference import ref_bpe_learn

    expect, _ = ref_bpe_learn(words, 2)
    assert got == expect



# ---------------------------------------------------------------------------
# r3 decision operators vs plain-Python ground truth
# ---------------------------------------------------------------------------

_vec_corpus = st.lists(
    st.lists(st.integers(-3, 3), min_size=3, max_size=3),
    min_size=2,
    max_size=14,
).filter(lambda vs: all(any(x != 0 for x in v) for v in vs))


@given(vecs=_vec_corpus)
@settings(**_SETTINGS)
def test_semantic_dedup_matches_python_reference(spark, vecs):
    """semantic_dedup_flags == the brute-force rule: assign to argmax-
    cosine centroid (centroid-id tie-break), drop iff a smaller-id
    same-cell vector has cosine >= threshold. Integer vectors keep
    cosine exact enough that no pair sits on the threshold."""
    import math

    from hypothesis import assume

    from airline_dataset_hadoop_public_spark.operators.similarity import (
        semantic_dedup_flags,
    )

    thr = 0.75
    ids = list(range(1, len(vecs) + 1))

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    n_cent = min(2, len(vecs))
    cents = {i: vecs[i - 1] for i in ids[:n_cent]}
    # no cosine may sit numerically on the threshold or on an
    # assignment tie — fold-order ulps would flip the discrete outcome
    for v in vecs:
        sims = [cos(v, c) for c in cents.values()]
        assume(all(abs(s1 - s2) > 1e-9 for i, s1 in enumerate(sims)
                   for s2 in sims[i + 1:]))
    assign = {}
    for i, v in zip(ids, vecs):
        best = max(cents, key=lambda c: (cos(v, cents[c]), -c))
        assign[i] = best
    for i, v in zip(ids, vecs):
        for j, w in zip(ids, vecs):
            if i < j and assign[i] == assign[j]:
                assume(abs(cos(v, w) - thr) > 1e-9)
    expect = {
        j: any(
            i < j and assign[i] == assign[j] and cos(vi, vecs[j - 1]) >= thr
            for i, vi in zip(ids, vecs)
        )
        for j in ids
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["dropped"]
        for r in semantic_dedup_flags(
            df, df.filter(F.col("vec_id") <= n_cent), threshold=thr
        ).collect()
    }
    assert got == expect


_budget_docs = st.lists(
    st.integers(0, 3).flatmap(
        lambda k: st.tuples(st.just(k), st.integers(1, 9))
    ),
    min_size=1,
    max_size=20,
)


@given(docs=_budget_docs)
@settings(**_SETTINGS)
def test_token_budget_bucket_decomposition_matches_global_prefix(spark, docs):
    """The broadcast-bucket decomposition inside corpus_token_budget_select
    must equal the global 'running total <= B' prefix rule. Exercised on
    the raw frame shape (q_bp, n_tokens, tie) the plan builds."""
    import hashlib

    from pyspark.sql import Window

    budget = 25
    rows = [
        (i + 1, 2500 * q, n, hashlib.md5(str(i + 1).encode()).hexdigest())
        for i, (q, n) in enumerate(docs)
    ]
    # plain-Python global prefix
    run, expect = 0, {}
    for doc_id, q_bp, n, tie in sorted(rows, key=lambda r: (-r[1], r[3], r[0])):
        run += n
        expect[doc_id] = run <= budget
    f = spark.createDataFrame(
        rows, "doc_id long, q_bp long, n_tokens long, tie string"
    )
    buckets = (
        f.groupBy("q_bp")
        .agg(F.sum("n_tokens").alias("__btot"))
        .withColumn(
            "__before",
            F.coalesce(
                F.sum("__btot").over(
                    Window.orderBy(F.desc("q_bp")).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
    )
    runc = F.col("__before") + F.sum("n_tokens").over(
        Window.partitionBy("q_bp")
        .orderBy("tie", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r["doc_id"]: r["sel"]
        for r in f.join(F.broadcast(buckets), "q_bp")
        .select("doc_id", (runc <= budget).alias("sel"))
        .collect()
    }
    assert got == expect


_graph = st.tuples(
    st.integers(2, 18),  # n declared nodes
    st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)), max_size=30),
)


@given(g=_graph)
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, g):
    """Pointer-jumping CC vs a plain-Python union-find, on random graphs
    that include chains, self-loops, duplicate edges, and endpoints
    OUTSIDE the declared node set (relay semantics: labels propagate
    through them; output restricted to declared nodes)."""
    from airline_dataset_hadoop_public_spark.operators.dedup import (
        connected_components,
    )

    n, edge_list = g
    declared = list(range(n))

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for x in declared:
        find(x)
    for a, b in edge_list:
        union(a, b)
    # component label = min id in the component (declared OR relay
    # endpoint) — the operator's min-id contract
    min_of_root: dict[int, int] = {}
    for x in parent:
        r = find(x)
        min_of_root[r] = min(min_of_root.get(r, x), x)
    expect = {x: min_of_root[find(x)] for x in declared}

    nodes = spark.createDataFrame([(i,) for i in declared], "node long")
    if edge_list:
        edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
    else:
        edges = spark.createDataFrame([], "id_a long, id_b long")
    # default gate → single-task union-find; gate 0 → the
    # label-propagation loop. Same graph, identical labels required.
    got_local = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    got_loop = {
        r["node"]: r["component"]
        for r in connected_components(
            nodes, edges, local_solve_max_edges=0
        ).collect()
    }
    assert got_local == expect
    assert got_loop == expect


# ---------------------------------------------------------------------------
# r3b curation operators vs plain-Python references
# ---------------------------------------------------------------------------

_kmv_vals = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 200)),
    min_size=1,
    max_size=80,
)


@given(rows=_kmv_vals, k=st.integers(2, 12))
@settings(**_SETTINGS)
def test_kmv_matches_python_order_statistic(spark, rows, k):
    import hashlib

    from airline_dataset_hadoop_public_spark.operators.sketches import (
        kmv_distinct_per_key,
    )

    df = spark.createDataFrame([Row(g=g, v=str(v)) for g, v in rows])
    got = {
        r["g"]: (r["n_exact"], r["kmv_estimate"])
        for r in kmv_distinct_per_key(df, "g", "v", k=k).collect()
    }
    by_key = defaultdict(set)
    for g, v in rows:
        by_key[g].add(str(v))
    for g, vals in by_key.items():
        n = len(vals)
        if n < k:
            expect = float(n)
        else:
            hs = sorted(
                int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
                for v in vals
            )
            expect = round((k - 1) / (hs[k - 1] / 2.0**60), 4)
        assert got[g] == (n, expect)


_manifest = st.lists(st.integers(1, 400), min_size=1, max_size=40)


@given(sizes=_manifest, target=st.integers(50, 300))
@settings(**_SETTINGS)
def test_bin_pack_matches_python_greedy(spark, sizes, target):
    from airline_dataset_hadoop_public_spark.operators.relational import (
        bin_pack_manifest,
    )

    df = spark.createDataFrame(
        [Row(f=f"{i:04d}", b=s) for i, s in enumerate(sizes)]
    )
    got = [
        r["compaction_group"]
        for r in bin_pack_manifest(df, "b", "f", target)
        .orderBy("f")
        .collect()
    ]
    cum, expect = 0, []
    for s in sizes:
        expect.append(cum // target)
        cum += s
    assert got == expect


_corpus = st.lists(
    st.tuples(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=6),
        st.booleans(),
    ),
    min_size=1,
    max_size=20,
)


@given(docs=_corpus)
@settings(**_SETTINGS)
def test_dsir_matches_python_reference(spark, docs):
    import hashlib
    import math

    from airline_dataset_hadoop_public_spark.operators.lm import (
        dsir_importance_weights,
    )

    B = 16
    rows = [
        Row(doc_id=i, text=" ".join(toks), lang="en" if t else "xx")
        for i, (toks, t) in enumerate(docs)
    ]
    got = {
        r["doc_id"]: (r["n_feats"], r["dsir_weight"])
        for r in dsir_importance_weights(
            spark.createDataFrame(rows), F.col("lang") == "en", buckets=B
        ).collect()
    }

    def feats(toks):
        grams = list(toks) + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        return [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B
            for g in grams
        ]

    raw, tgt = defaultdict(int), defaultdict(int)
    per_doc = {}
    for i, (toks, is_t) in enumerate(docs):
        fs = feats(toks)
        per_doc[i] = (fs, is_t)
        for b in fs:
            raw[b] += 1
            if is_t:
                tgt[b] += 1
    tr, tt = sum(raw.values()), sum(tgt.values())
    for i, (fs, _) in per_doc.items():
        w = sum(
            math.log((tgt[b] + 1) / (tt + B))
            - math.log((raw[b] + 1) / (tr + B))
            for b in fs
        )
        assert got[i][0] == len(fs)
        assert abs(got[i][1] - round(w, 4)) <= 1e-4  # fold-order slack


_bloom_keys = st.tuples(
    st.lists(st.integers(-1000, 1000), max_size=40),  # build-side keys
    st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),  # probe
)


@given(g=_bloom_keys)
@settings(**_SETTINGS)
def test_bloom_semi_join_equals_plain_semi_join(spark, g):
    """Bloom pre-prune must never change the semi-join result. num_bits
    is forced down to 64 (one word) so false-positive collisions are
    common and every bit position — including the int64 sign bit — is
    exercised; the exact join must absorb them all."""
    from airline_dataset_hadoop_public_spark.operators.sketches import (
        bloom_semi_join,
    )

    build, probe = g
    keys = set(build)
    expect = sorted(i for i, v in enumerate(probe) if v in keys)
    bdf = spark.createDataFrame([(k,) for k in build], "k long")
    pdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(probe)], "rid long, k long"
    )
    got = sorted(
        r["rid"]
        for r in bloom_semi_join(
            pdf, "k", bdf, "k", num_bits=64, num_hashes=3
        ).collect()
    )
    assert got == expect


_doc_words = st.lists(
    st.sampled_from([f"w{i}" for i in range(12)]), min_size=0, max_size=14
)


@given(
    docs=st.lists(_doc_words, min_size=1, max_size=8),
    threshold=st.sampled_from([0.07, 0.2, 0.33, 0.5, 0.8, 0.9, 1.0]),
)
@settings(**_SETTINGS)
def test_containment_matches_python_any_threshold(spark, docs, threshold):
    """Exactness holds for arbitrary docs AND thresholds — including
    ones whose t·|A| product rounds one ulp above the exact integer
    (the float-ceil boundary a fixed-threshold test can miss)."""
    from airline_dataset_hadoop_public_spark.operators.dedup import (
        containment_pairs,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(docs)]
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_pairs(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    )

    def tri(ws):
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    expect = sorted(
        (ia, ib, round(len(tri(a) & tri(b)) / len(tri(a)), 4))
        for ia, a in enumerate(docs)
        for ib, b in enumerate(docs)
        if ia != ib and tri(a) and len(tri(a) & tri(b)) / len(tri(a)) >= threshold
    )
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["x", "y", "z"]), st.integers(0, 200)),
        min_size=1,
        max_size=120,
    ),
    k=st.sampled_from([2, 8, 64]),
)
@settings(**_SETTINGS)
def test_kmv_overlap_matches_python_reference(spark, rows, k):
    """The merged-sketch estimators match a plain-Python KMV."""
    import hashlib

    from airline_dataset_hadoop_public_spark.operators.sketches import (
        kmv_set_overlap_per_key_pair,
    )

    df = spark.createDataFrame([Row(k=a, v=f"u{b}") for a, b in rows])
    got = {
        (r["key_a"], r["key_b"]): (
            r["jaccard_est"], r["jaccard_exact"], r["union_est"], r["inter_est"]
        )
        for r in kmv_set_overlap_per_key_pair(df, "k", "v", k=k).collect()
    }

    def hv(v):
        return int(hashlib.md5(v.encode()).hexdigest()[:15], 16)

    sets = defaultdict(set)
    for a, b in rows:
        sets[a].add(f"u{b}")
    expect = {}
    for ka in sorted(sets):
        for kb in sorted(sets):
            if ka >= kb:
                continue
            sk = {t: set(sorted(sets[t], key=lambda v: (hv(v), v))[:k]) for t in (ka, kb)}
            merged = sorted(sk[ka] | sk[kb], key=lambda v: (hv(v), v))[:k]
            kk = len(merged)
            both = sum(1 for v in merged if v in sk[ka] and v in sk[kb])
            rho = both / kk
            if kk < k:
                ue = float(kk)
            else:
                ue = (k - 1) / (max(hv(merged[-1]), 1) / 2.0**60)
            a, b = sets[ka], sets[kb]
            jex = len(a & b) / len(a | b)
            expect[(ka, kb)] = (
                round(rho, 4), round(jex, 4), round(ue, 4), round(rho * ue, 4)
            )
    assert got == expect


_kv_null = st.lists(
    st.tuples(
        st.integers(0, 4),
        st.one_of(st.none(), st.integers(-50, 50)),
        st.integers(0, 9),
    ),
    min_size=1,
    max_size=60,
)


@given(rows=_kv_null)
@settings(**_SETTINGS)
def test_argmin_by_ranks_null_keys_last(spark, rows):
    """FIXTURES.md section J rule 3: a NULL order key never wins the
    group minimum; a group that is ALL-NULL on the order key still
    emits (its NULL row wins by the unique tie-break)."""
    from airline_dataset_hadoop_public_spark.operators.argmin import argmin_by

    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("g", IntegerType()),
            StructField("v", IntegerType()),
            StructField("p", IntegerType()),
            StructField("uid", LongType()),
        ]
    )
    df = spark.createDataFrame(
        [(g, v, p, i) for i, (g, v, p) in enumerate(rows)], schema
    )
    got = {
        r["g"]: (r["v"], r["uid"])
        for r in argmin_by(df, ["g"], ["v", "uid"], ["p"]).collect()
    }
    groups = defaultdict(list)
    for i, (g, v, p) in enumerate(rows):
        # ANSI NULLS LAST: (is_null, value, uid) lexicographic
        groups[g].append((v is None, v if v is not None else 0, i, v))
    expect = {
        g: (min(vs)[3], min(vs)[2]) for g, vs in groups.items()
    }
    assert got == expect


_vecs = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.one_of(
                st.floats(-5, 5, allow_nan=False, allow_infinity=False),
                st.just(float("nan")),
                st.just(float("inf")),
                st.just(float("-inf")),
                st.just(0.0),
            ),
            min_size=2,
            max_size=4,
        ),
    ),
    min_size=1,
    max_size=30,
)


@given(vecs=_vecs)
@settings(**_SETTINGS)
def test_vector_is_valid_matches_python(spark, vecs):
    """FIXTURES.md section K rule 1: valid iff non-NULL, all elements
    finite, and L2 norm > 0 — same verdict as the plain-Python
    predicate on every generated vector."""
    import math

    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    from airline_dataset_hadoop_public_spark.operators.similarity import (
        vector_is_valid,
    )

    schema = StructType(
        [
            StructField("vid", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    df = spark.createDataFrame(list(enumerate(vecs)), schema)
    kept = {
        r["vid"] for r in df.where(vector_is_valid("embedding")).collect()
    }
    expect = {
        i
        for i, v in enumerate(vecs)
        if v is not None
        and all(math.isfinite(x) for x in v)
        and sum(x * x for x in v) > 0
    }
    assert kept == expect


_cdc_ops = st.lists(
    st.tuples(
        st.integers(0, 5),                      # key
        st.sampled_from(["I", "U", "D"]),       # op
        st.integers(-100, 100),                 # payload
    ),
    min_size=1,
    max_size=40,
)


@given(ops=_cdc_ops)
@settings(**_SETTINGS)
def test_cdc_last_writer_wins_matches_python_replay(spark, ops):
    """Last-writer-wins compaction (max_by on a unique LSN) equals a
    sequential dict replay of the log for ANY op sequence, including
    delete-then-reinsert."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("lsn", LongType()),
            StructField("op", StringType()),
            StructField("payload", IntegerType()),
        ]
    )
    log = [(k, i, op, pay) for i, (k, op, pay) in enumerate(ops)]
    df = spark.createDataFrame(log, schema)
    applied = (
        df.groupBy("k")
        .agg(
            F.max_by("op", "lsn").alias("op"),
            F.max_by("payload", "lsn").alias("payload"),
        )
        .where(F.col("op") != "D")
    )
    got = {r["k"]: r["payload"] for r in applied.collect()}
    state: dict[int, int] = {}
    for k, _, op, pay in log:  # lsn == position: already in order
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = pay
    # the aggregate keeps "last op wins" per key; the dict replay drops
    # a key only if its LAST op is D — identical by construction
    expect = {
        k: pay
        for k, pay in state.items()
    }
    assert got == expect
