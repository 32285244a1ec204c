"""Scale-pattern wave: the warehouse/lakehouse machinery a 100 TB
deployment leans on daily — bucketed shuffle-free joins, MERGE-style
upsert, SCD-2 history rebuild, distributed Gramian accumulation, and
sparse tf-idf cosine join.

None of these exist in the reference (its join story is a single
tagged reduce-side join and its mutation story is "re-run and
overwrite" — reference README.md:264-270, 437-520; SURVEY.md §2.5).
They are registered as first-class queries with full DuckDB value
oracles: bucketing, merge layout, and the Gramian's partial-aggregate
route are physical strategies, so the oracle states the logical result
and the plan contracts live in tests/test_scale_patterns.py.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import linalg as L
from ..operators import relational as R
from ..operators import text as X
from ..sources.catalog import load_table
from ..sources.warehouse import bucketed_table
from .registry import register

# ---------------------------------------------------------------------------
# Bucketed sorted-merge join: both facts pre-bucketed on the join key,
# so the join itself needs ZERO exchanges — at 100 TB this is the
# difference between "shuffle both tables nightly" and "merge
# pre-sorted bucket files". The oracle is the plain logical join
# (bucketing cannot change results); tests pin the exchange-free plan.
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


def _warehouse_dir(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(tempfile.gettempdir(), "adhps_warehouse", tag)


@register("warehouse_bucketed_join", _BUCKETED_ORACLE)
def warehouse_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _warehouse_dir(sf_dir)
    cust = bucketed_table(
        spark, sf_dir, "customer",
        load_table(spark, sf_dir, "customer"), "c_custkey", 8, base,
    )
    orders = bucketed_table(
        spark, sf_dir, "orders",
        load_table(spark, sf_dir, "orders"), "o_custkey", 8, base,
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# MERGE-style upsert (copy-on-write kernel): delta = repriced refunds
# for every 97th pre-1999 order PLUS all 1999+ orders; delta wins by
# key, untouched base rows pass through. Price doubling is an EXACT
# float op (×2 never rounds), so the output needs no tolerance.
# ---------------------------------------------------------------------------

_MERGE_ORACLE = """
WITH base AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
),
delta AS (
  SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
         o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
  FROM base WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
),
merged AS (
  SELECT * FROM delta
  UNION ALL
  SELECT * FROM base
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
FROM merged
"""


@register("orders_merge_upsert", _MERGE_ORACLE)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < cutoff)
    updates = (
        base.filter(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderstatus", F.lit("R"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    inserts = orders.filter(F.col("o_orderdate") >= cutoff)
    merged = R.merge_upsert(base, updates.unionByName(inserts), ["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
    )


# ---------------------------------------------------------------------------
# SCD-2 rebuild: per-customer runs of consecutive equal order priority
# become validity intervals (gaps-and-islands; ONE exchange on the
# entity key shared by every window in the plan).
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH ordered AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         -- positional start + null-safe compare, matching the
         -- operator exactly (relational.scd2_intervals): LAG IS NULL
         -- would misfire on a genuine NULL attr mid-partition, and
         -- <> is three-valued around NULLs
         CASE WHEN ROW_NUMBER() OVER w = 1
                OR LAG(o_orderpriority) OVER w
                   IS DISTINCT FROM o_orderpriority
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_orderdate NULLS FIRST, o_orderkey)
),
runs AS (
  SELECT *, SUM(chg) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM ordered
),
per_run AS (
  SELECT o_custkey, run, o_orderpriority AS priority,
         STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS valid_from,
         STRFTIME(MAX(o_orderdate), '%Y-%m-%d') AS valid_to,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM runs GROUP BY 1, 2, 3
)
SELECT o_custkey, priority, valid_from, valid_to, n_rows,
       run = MAX(run) OVER (PARTITION BY o_custkey) AS is_current,
       CAST(run AS BIGINT) AS version
FROM per_run
"""


@register("orders_priority_scd2", _SCD2_ORACLE)
def orders_priority_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    hist = R.scd2_intervals(
        orders, "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    return hist.select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "n_rows",
        "is_current",
        "version",
    )


# ---------------------------------------------------------------------------
# Distributed Gramian: X^T X via per-Arrow-batch BLAS partials, one
# tiny (i, j)-keyed aggregation — shuffled payload is O(partitions ×
# d²), independent of row count. 1-based indices to match DuckDB's
# generate_subscripts. QUANTIZED-SUM contract (skew-sweep hardening):
# elements quantize to floor(x * 2^10 + 0.5) — a power-of-two scale
# is exact in binary floating point, so the int64 product sums are
# order-independent and the emitted gram = sum / 2^20 is a
# bit-identical dyadic double on both engines with NO final rounding
# (ROUND(raw_float_sum, 4) flipped its last digit under the viral-
# vector skew mirror; same discipline as the resample fixture's
# quantized-sum averages).
# ---------------------------------------------------------------------------

_GRAM_ORACLE = """
WITH ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS i,
         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1024 + 0.5)
              AS BIGINT) AS q
  FROM embeddings WHERE __VALID_EMBEDDING__
)
SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
       CAST(CAST(SUM(a.q * b.q) AS BIGINT) AS DOUBLE) / 1048576.0 AS gram
FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY 1, 2
"""


@register("embeddings_gram_matrix", _GRAM_ORACLE)
def embeddings_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return L.gram_matrix(emb, "embedding", quantize_bits=10)


# ---------------------------------------------------------------------------
# Sparse tf-idf cosine join over the inverted index (term-at-a-time):
# df-pruned postings (min_df=2, stop-cap N/3) bound the per-term
# self-join; norms live in the same pruned space.
# ---------------------------------------------------------------------------

_COS_W = "string_split_regex(lower(trim(text)), '\\s+')"

_COS_ORACLE = f"""
WITH t AS (SELECT doc_id, UNNEST({_COS_W}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfq AS (
  SELECT term, COUNT(*) AS dfreq FROM tf CROSS JOIN n GROUP BY term, n_docs
  HAVING COUNT(*) >= 2 AND COUNT(*) <= FLOOR(n_docs / 3.0)
),
w AS (
  SELECT doc_id, term, tf * ln(CAST(n_docs AS DOUBLE) / dfreq) AS wt
  FROM tf JOIN dfq USING (term) CROSS JOIN n
),
nrm AS (SELECT doc_id, sqrt(SUM(wt * wt)) AS nrm FROM w GROUP BY 1),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.wt * b.wt) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 4) AS cosine
FROM dots
JOIN nrm na ON dots.id_a = na.doc_id
JOIN nrm nb ON dots.id_b = nb.doc_id
WHERE dot / (na.nrm * nb.nrm) >= 0.5
"""


@register("docs_tfidf_cosine_pairs", _COS_ORACLE)
def docs_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.tfidf_cosine_pairs(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Incremental aggregation (lambda/kappa maintenance kernel): a stored
# partial-aggregate STATE (count/sum/min/max per key, built from the
# pre-cutoff history) is merged with a fresh DELTA batch's partials —
# no rescan of history. The oracle recomputes from scratch over all
# rows, proving the merge algebra (sum-of-counts, sum-of-sums,
# min-of-mins, max-of-maxes, avg derived at the end) is lossless. At
# 100 TB the state side is keys-sized (tiny) while the naive recompute
# rescans the full fact — this is the difference between a nightly
# full pass and a minutes-long delta merge.
# ---------------------------------------------------------------------------

_INCR_CUTOFF = "2024-01-21 00:00:00"

_INCR_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       ROUND(SUM(value), 2) / COUNT(*) AS avg_value
FROM events
GROUP BY event_type
"""


@register("events_incremental_agg_merge", _INCR_ORACLE)
def events_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_INCR_CUTOFF).cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("sm"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    state = partials(events.filter(F.col("ts") < cutoff))
    delta = partials(events.filter(F.col("ts") >= cutoff))
    merged = (
        state.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("sm").alias("raw_sum"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )
    # quantized-sum average (FIXTURES.md §F): value is 2-decimal data,
    # so ROUND(sum, 2)/count divides bit-identical doubles
    return merged.select(
        "event_type",
        "n_events",
        F.round("raw_sum", 4).alias("sum_value"),
        "min_value",
        "max_value",
        (F.round("raw_sum", 2) / F.col("n_events")).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (table-versioning audit): classify every key across
# two snapshots as added / removed / changed / unchanged-count. The
# "new" snapshot is a deterministic mutation of orders (every 89th
# key missing from OLD = adds, every 101st key missing from NEW =
# removes, every 97th surviving key repriced = changes). One full-outer
# join on the key — single co-partitioned shuffle, the CDC-diff shape.
# ---------------------------------------------------------------------------

_DIFF_ORACLE = """
WITH old AS (
  SELECT * FROM orders WHERE o_orderkey % 89 <> 0
),
new AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 101 <> 0
),
cls AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS last_key
FROM cls
GROUP BY change_type
"""


@register("orders_snapshot_diff", _DIFF_ORACLE)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("old_price")
    )
    new = (
        orders.filter(F.col("o_orderkey") % 101 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") * 2
            )
            .otherwise(F.col("o_totalprice"))
            .alias("new_price"),
        )
    )
    cls = (
        old.join(new, "o_orderkey", "full_outer")
        .select(
            "o_orderkey",
            F.when(F.col("old_price").isNull(), "added")
            .when(F.col("new_price").isNull(), "removed")
            .when(F.col("old_price") != F.col("new_price"), "changed")
            .otherwise("unchanged")
            .alias("change_type"),
        )
    )
    return cls.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters: a 4×512 CMS over user_id built with
# a portable md5 hash family (bit-identical in any engine), probed for
# the exact top-10 users. The sketch build is the scale story: each
# event fans out to d=4 (row, cell) keys and partial aggregation
# collapses every partition to ≤ d·w cells BEFORE the shuffle, so the
# exchanged payload is O(partitions × 2048) regardless of event count
# — the streaming-friendly frequency sketch the exact groupBy can't
# give you when the key domain doesn't fit in memory. Guarantee
# est ≥ true holds per construction and the oracle reproduces the
# exact same cells, so values match bit-for-bit.
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 512

_CMS_CELL_SQL = (
    "CAST(('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || "
    "CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % {w}"
)

_CMS_ORACLE = f"""
WITH fan AS (
  SELECT user_id, r, {_CMS_CELL_SQL.format(w=_CMS_W)} AS cell
  FROM events CROSS JOIN (SELECT UNNEST(range(0, {_CMS_D})) AS r) g
),
cms AS (
  SELECT r, cell, CAST(COUNT(*) AS BIGINT) AS c FROM fan GROUP BY 1, 2
),
true_top AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events GROUP BY 1
  ORDER BY true_cnt DESC, user_id ASC LIMIT 10
),
probe AS (
  SELECT t.user_id, t.true_cnt, r,
         {_CMS_CELL_SQL.format(w=_CMS_W)} AS cell
  FROM true_top t CROSS JOIN (SELECT UNNEST(range(0, {_CMS_D})) AS r) g
)
SELECT p.user_id, p.true_cnt, MIN(c.c) AS est_cnt
FROM probe p JOIN cms c ON p.r = c.r AND p.cell = c.cell
GROUP BY 1, 2
"""


@register("events_countmin_heavy_hitters", _CMS_ORACLE)
def events_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    rows = F.array(*[F.lit(i) for i in range(_CMS_D)])
    cell = F.expr(
        "CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', "
        f"CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % {_CMS_W}"
    )
    fan = ev.withColumn("r", F.explode(rows)).withColumn("cell", cell)
    cms = fan.groupBy("r", "cell").agg(F.count(F.lit(1)).alias("c"))
    true_top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("user_id"))
        .limit(10)
    )
    probe = true_top.withColumn("r", F.explode(rows)).withColumn("cell", cell)
    return (
        probe.join(F.broadcast(cms), ["r", "cell"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("c").alias("est_cnt"))
    )


# ---------------------------------------------------------------------------
# Multimodal resize + typed metadata (completing the decode /
# feature-extract / resize / frame-sample surface): one narrow Arrow
# pass emitting the typed metadata a real PIL resize would produce —
# dimensions derived deterministically from the bytes so the oracle
# reproduces them from the text column.
# ---------------------------------------------------------------------------

_RESIZE_ORACLE = """
SELECT doc_id AS id, 'image/stub' AS mime,
       CAST(64 + (CASE WHEN length(text) = 0 THEN 0
                       ELSE ascii(substr(text, 1, 1)) END) % 192 AS BIGINT)
         AS src_w,
       CAST(64 + octet_length(encode(text)) % 192 AS BIGINT) AS src_h,
       CAST(224 AS BIGINT) AS out_w, CAST(224 AS BIGINT) AS out_h,
       CAST(LEAST(octet_length(encode(text)), 784) AS BIGINT) AS out_bytes
FROM documents WHERE text IS NOT NULL
"""


@register("multimodal_resize_meta", _RESIZE_ORACLE)
def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents")
    payload = MM.with_binary_payload(docs, "text")
    return MM.resize_media(payload, "doc_id")


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE): hierarchy closure — every
# customer's depth and root under the deterministic decimal-prefix
# forest parent(c) = c div 10 (roots: c < 10). Each iteration is one
# frontier-vs-edges join (the BFS shape; the directed complement of
# operators/dedup's connected-components loop, but expressed entirely
# inside the engine's recursion operator). Depth is O(log10 N) — 4
# iterations at sf0.1 — and every iteration is a distributed join, so
# the pattern holds on a billion-node forest.
# ---------------------------------------------------------------------------

_CHAIN_ORACLE = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS k, CAST(0 AS BIGINT) AS depth, c_custkey AS root
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, ch.depth + 1, ch.root
  FROM customer c JOIN chain ch ON c.c_custkey // 10 = ch.k
  WHERE c.c_custkey >= 10
)
SELECT k AS c_custkey, depth, root FROM chain
"""

_CHAIN_SPARK_SQL = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS k, CAST(0 AS BIGINT) AS depth, c_custkey AS root
  FROM {view} WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, ch.depth + 1, ch.root
  FROM {view} c JOIN chain ch ON c.c_custkey DIV 10 = ch.k
  WHERE c.c_custkey >= 10
)
SELECT k AS c_custkey, depth, root FROM chain
"""


@register("customers_hierarchy_closure", _CHAIN_ORACLE)
def customers_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = "adhps_chain_customer"
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(view)
    return spark.sql(_CHAIN_SPARK_SQL.format(view=view))


# ---------------------------------------------------------------------------
# VARIANT shredding (Spark 4 semi-structured type): props parsed ONCE
# into binary VARIANT, fields typed out with try_variant_get — the
# parse-once/shred-many path that replaces per-path string re-parsing
# (get_json_object) at scale. Same result as the string path, so the
# oracle is DuckDB's JSON extraction.
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS max_k,
       CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS n_distinct_k
FROM events
GROUP BY event_type
"""


@register("events_variant_shred", _VARIANT_ORACLE)
def events_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    shredded = ev.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return shredded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.countDistinct("k").alias("n_distinct_k"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key: interleave the bits of two filter
# dimensions so ONE sort column clusters BOTH — the multi-dimensional
# data-skipping layout (Delta OPTIMIZE ZORDER's kernel). Sorting files
# by the Morton key makes per-file min/max ranges narrow in user_id
# AND k simultaneously, so either filter prunes files (the 1-D sorted
# layout proven in tests/test_scale_patterns.py only skips on its one
# sort key). Both engines evaluate the SAME generated bit-interleave
# arithmetic, so parity is by construction.
# ---------------------------------------------------------------------------

_Z_BITS = 8


def _morton_sql(x: str, y: str, shr) -> str:
    """Bit-interleave expression from one loop for both dialects;
    `shr(val_expr, b)` renders that dialect's shift-right (shift-left
    is a portable multiply by 2^k)."""
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"(({shr(x, b)}) % 2) * {1 << (2 * b)}")
        terms.append(f"(({shr(y, b)}) % 2) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


_Z_X = "(user_id % 256)"
_Z_Y_DUCK = "(CAST(json_extract_string(props, '$.k') AS BIGINT) % 256)"
_Z_Y_SPARK = "(CAST(get_json_object(props, '$.k') AS BIGINT) % 256)"

# DuckDB shift-right: integer division by 2^b (operands nonnegative)
_ZORDER_ORACLE = f"""
SELECT event_id,
       CAST({_morton_sql(_Z_X, _Z_Y_DUCK, lambda v, b: f"({v}) // {1 << b}")}
            AS BIGINT) AS morton
FROM events
ORDER BY morton NULLS FIRST, event_id LIMIT 100
"""


@register("events_zorder_keys", _ZORDER_ORACLE)
def events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    expr = _morton_sql(
        _Z_X, _Z_Y_SPARK, lambda v, b: f"shiftright({v}, {b})"
    )
    return (
        ev.selectExpr("event_id", f"CAST({expr} AS BIGINT) AS morton")
        .orderBy("morton", "event_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance for a JOIN: with deltas on BOTH sides,
# delta(A ⋈ B) = dA⋈B₀ ∪ A₀⋈dB ∪ dA⋈dB — the three-term algebra every
# materialized join view needs (the aggregate counterpart is
# events_incremental_agg_merge). The oracle recomputes the full join
# from scratch, proving the incremental union is lossless. At 100 TB
# the delta terms touch only delta-sized inputs on one side, turning
# a full two-table shuffle into delta-driven lookups.
# ---------------------------------------------------------------------------

_IVM_ORACLE = """
SELECT c_mktsegment, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""


@register("orders_customer_join_ivm", _IVM_ORACLE)
def orders_customer_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")
    c0 = cust.filter(F.col("c_custkey") % 50 != 0)  # pre-existing dims
    dc = cust.filter(F.col("c_custkey") % 50 == 0)  # dim delta
    # the base/delta split must PARTITION the fact exactly — a
    # NULL-dated row satisfies neither comparison, so route it to the
    # base side explicitly (the oracle recomputes the full join)
    is_base = F.col("o_orderdate") < cutoff
    o0 = orders.filter(is_base | F.col("o_orderdate").isNull())  # fact base
    do = orders.filter(F.col("o_orderdate") >= cutoff)  # fact delta
    on = F.col("o_custkey") == F.col("c_custkey")
    view0 = o0.join(c0, on)  # the standing materialized view
    inc = (
        view0.unionByName(do.join(c0, on))
        .unionByName(o0.join(dc, on))
        .unionByName(do.join(dc, on))
    )
    return inc.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch with built-in error report: per event type, the
# (k-1)/U_(k) K-Minimum-Values estimate of distinct users next to the
# exact count. Deterministic given the md5-derived hash, so the
# ESTIMATOR itself is value-checked by the oracle (HLL's
# approx_count_distinct can only be range-checked —
# streaming_approx_distinct_users covers that side). At 100 TB the
# per-key state is k hashes: mergeable across partitions, days, and
# engines.
# ---------------------------------------------------------------------------

_KMV_K = 32

_KMV_ORACLE = f"""
WITH d AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
           FROM events WHERE user_id IS NOT NULL),
h AS (SELECT event_type, v,
             CAST(('0x' || substring(md5(v), 1, 15)) AS BIGINT) AS hv
      FROM d),
r AS (SELECT event_type, v, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY hv, v) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_exact
      FROM h),
kth AS (SELECT event_type, hv, n_exact FROM r
        WHERE rn = LEAST({_KMV_K}, n_exact)),
est AS (SELECT event_type, n_exact,
               CASE WHEN n_exact < {_KMV_K} THEN CAST(n_exact AS DOUBLE)
                    ELSE {_KMV_K - 1}.0
                         / (CAST(GREATEST(hv, 1) AS DOUBLE) / POWER(2.0, 60))
               END AS e
        FROM kth)
SELECT event_type, n_exact,
       ROUND(e, 4) AS kmv_estimate,
       ROUND(ABS(e - n_exact) / n_exact, 4) AS rel_err
FROM est
"""


@register("events_kmv_distinct_users", _KMV_ORACLE)
def events_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_distinct_per_key

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct_per_key(ev, "event_type", "user_id", k=_KMV_K)


# ---------------------------------------------------------------------------
# KMV sketch SET ALGEBRA (Beyer et al., SIGMOD 2007 §4): per-event-type
# sketches of the user-day activity set merge pairwise into union
# sketches, yielding Jaccard / |A∪B| / |A∩B| estimates WITHOUT
# rescanning the data — the audience-overlap question every analytics
# store answers from sketch state at 100 TB. The item is (user, day)
# rather than user because the fixture's user sets fully overlap across
# types; activity sets differ. Deterministic md5 hashing → the whole
# estimator is value-checked, with exact Jaccard alongside as the
# error report.
# ---------------------------------------------------------------------------

_KMV_OVERLAP_K = 64

_KMV_OVERLAP_ORACLE = f"""
WITH d0 AS (SELECT DISTINCT event_type AS ty,
                   CAST(user_id AS VARCHAR) || '|' || strftime(ts, '%Y-%m-%d') AS v
            FROM events),
d AS (SELECT ty, v FROM d0 WHERE v IS NOT NULL AND ty IS NOT NULL),
h AS (SELECT ty, v,
             CAST(('0x' || substring(md5(v), 1, 15)) AS BIGINT) AS hv
      FROM d),
r AS (SELECT ty, v, hv,
             ROW_NUMBER() OVER (PARTITION BY ty ORDER BY hv, v) AS rn
      FROM h),
kept AS (SELECT ty, v, hv FROM r WHERE rn <= {_KMV_OVERLAP_K}),
ks AS (SELECT DISTINCT ty FROM d),
pairs AS (SELECT a.ty AS ta, b.ty AS tb FROM ks a JOIN ks b ON a.ty < b.ty),
m AS (SELECT p.ta, p.tb, kept.v, kept.hv,
             MAX(CASE WHEN kept.ty = p.ta THEN 1 ELSE 0 END) AS ina,
             MAX(CASE WHEN kept.ty = p.tb THEN 1 ELSE 0 END) AS inb
      FROM pairs p JOIN kept ON kept.ty = p.ta OR kept.ty = p.tb
      GROUP BY p.ta, p.tb, kept.v, kept.hv),
rm AS (SELECT ta, tb, hv, ina, inb,
              ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY hv, v) AS rn
       FROM m),
e AS (SELECT ta, tb, COUNT(*) AS kk, SUM(ina * inb) AS bth, MAX(hv) AS ukth
      FROM rm WHERE rn <= {_KMV_OVERLAP_K} GROUP BY ta, tb),
sz AS (SELECT ty, COUNT(*) AS n FROM d GROUP BY ty),
iv AS (SELECT a.ty AS ta, b.ty AS tb, COUNT(*) AS i
       FROM d a JOIN d b ON a.v = b.v AND a.ty < b.ty GROUP BY a.ty, b.ty),
f AS (SELECT e.ta, e.tb,
             CAST(bth AS DOUBLE) / kk AS rho,
             CASE WHEN kk < {_KMV_OVERLAP_K} THEN CAST(kk AS DOUBLE)
                  ELSE {_KMV_OVERLAP_K - 1}.0
                       / (CAST(GREATEST(ukth, 1) AS DOUBLE) / POWER(2.0, 60))
             END AS ue,
             sa.n AS na, sb.n AS nb, COALESCE(iv.i, 0) AS iex
      FROM e JOIN sz sa ON sa.ty = e.ta JOIN sz sb ON sb.ty = e.tb
      LEFT JOIN iv ON iv.ta = e.ta AND iv.tb = e.tb)
SELECT ta AS key_a, tb AS key_b,
       ROUND(rho, 4) AS jaccard_est,
       ROUND(CAST(iex AS DOUBLE) / (na + nb - iex), 4) AS jaccard_exact,
       ROUND(ue, 4) AS union_est,
       ROUND(rho * ue, 4) AS inter_est
FROM f
"""


@register("events_kmv_type_overlap", _KMV_OVERLAP_ORACLE)
def events_kmv_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_set_overlap_per_key_pair

    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("|"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("user_day"),
    )
    return kmv_set_overlap_per_key_pair(
        items, "event_type", "user_day", k=_KMV_OVERLAP_K
    )


# ---------------------------------------------------------------------------
# Join-size estimation by correlated key sampling (the end-biased /
# correlated-sampling family, Vengerov et al., VLDB 2015): both sides
# keep exactly the keys whose deterministic hash falls in a 1/64 slice
# of hash space, so E[Σ_sampled a_k·b_k × 64] = Σ a_k·b_k = |A ⋈ B|.
# The query estimates the self-join size of lineitem on l_partkey —
# the cardinality that decides whether a co-purchase/triangle plan is
# feasible — from per-key counts only, next to the exact Σc² ground
# truth. At 100 TB the estimate costs one map-side-combined aggregate
# over 1/64 of the keys; the exact column is the report's own check.
# ---------------------------------------------------------------------------

# 2^54 = 2^60/64: the sampled slice of the md5-derived 60-bit space
_JOINEST_CUT = 1 << 54

_JOINEST_ORACLE = f"""
WITH c AS (SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
h AS (SELECT k, c,
             CAST(('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM c),
s AS (SELECT CAST(COALESCE(SUM(c * c), 0) * 64 AS BIGINT) AS est_pairs,
             COUNT(*) AS n_sample_keys
      FROM h WHERE hv < {_JOINEST_CUT}),
x AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_pairs FROM c)
SELECT s.est_pairs, x.exact_pairs,
       ROUND(ABS(CAST(s.est_pairs AS DOUBLE) - exact_pairs) / exact_pairs,
             4) AS rel_err,
       s.n_sample_keys
FROM s, x
"""


@register("lineitem_join_size_estimate", _JOINEST_ORACLE)
def lineitem_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    h = cnt.withColumn(
        "hv",
        F.conv(
            F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 15), 16, 10
        ).cast("long"),
    )
    s = h.filter(F.col("hv") < _JOINEST_CUT).agg(
        (F.coalesce(F.sum(F.col("c") * F.col("c")), F.lit(0)) * 64)
        .cast("long")
        .alias("est_pairs"),
        F.count(F.lit(1)).alias("n_sample_keys"),
    )
    x = cnt.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_pairs"))
    return s.crossJoin(F.broadcast(x)).select(
        "est_pairs",
        "exact_pairs",
        F.round(
            F.abs(F.col("est_pairs").cast("double") - F.col("exact_pairs"))
            / F.col("exact_pairs"),
            4,
        ).alias("rel_err"),
        "n_sample_keys",
    )


# ---------------------------------------------------------------------------
# Bloom runtime-filter semi-join: prune the fact scan with a
# broadcast-sized bitmap BEFORE the exact join's shuffle — the explicit
# form of Catalyst's InjectRuntimeFilter (which Spark only applies to
# its own join shapes). Bloom filters have no false negatives and the
# exact semi-join removes false positives, so the result equals the
# plain semi-join — which is exactly what the oracle states. At 100 TB
# the bitmap stays ~1 MiB regardless of build-side cardinality, while
# the pruned shuffle shrinks by the probe's non-member fraction.
#
# Companion to r2's `orders_bloom_semijoin_reduction`
# (fixtures_resolution.py), which tests membership through k broadcast
# joins against the word table. This variant embeds the bitmap as a
# LITERAL so the whole membership test is one codegen'd scan predicate
# — zero probe-side joins, the shape Catalyst itself produces — and
# probes the engine's largest fact (lineitem). Two registered
# strategies for the same logical op, each with its own plan contract.
# ---------------------------------------------------------------------------

_BLOOM_PRUNE_ORACLE = """
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4')
GROUP BY l_returnflag
"""


@register("lineitem_bloom_prune_revenue", _BLOOM_PRUNE_ORACLE)
def lineitem_bloom_prune_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    brand = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    pruned = bloom_semi_join(
        li, "l_partkey", brand, "p_partkey", num_bits=1 << 17, num_hashes=5
    )
    return pruned.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# DDSketch quantiles (Masson, Lee & Rim, VLDB 2019): the mergeable
# relative-error quantile sketch, completing the engine's sketch
# family — KMV/HLL (distinct), count-min (frequency), bloom
# (membership), DDSketch (quantiles). Per-key state is a sparse
# log-bucket count map that merges BY ADDITION (the build is literally
# groupBy(key, bucket).count()), so day->month rollups and cross-
# engine merges are one more partial aggregation; the readout walks
# cumulative bucket counts to the ceil(q*n)-th rank and reports the
# bucket midpoint, guaranteed within alpha=1% relative error of the
# true quantile VALUE. Deterministic given the data, so — unlike
# approx_percentile — the whole estimator (bucket ids, counts,
# estimates) is value-checked by the oracle; exact_val / rel_err make
# the query its own error report (the pytest asserts rel_err <= alpha).
# Boundary discipline: bucket = CEIL(LN(x)/ln_gamma) is libm-noise-
# sensitive only within ~1e-13 of an integer; the fixture's only
# boundary value is 1.0, where ln(1.0)=0.0 exactly in every libm
# (tests/test_scale_patterns.py pins the >=1e-5 margin of every other
# value at all three scales).
# ---------------------------------------------------------------------------

_DD_ALPHA = 0.01
_DD_GAMMA = (1.0 + _DD_ALPHA) / (1.0 - _DD_ALPHA)
_DD_LN_GAMMA = __import__("math").log(_DD_GAMMA)

_DDSKETCH_ORACLE = f"""
WITH v AS (
  SELECT event_type AS k, CAST(value AS DOUBLE) AS x
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
    AND isfinite(value) AND value > 0),
b AS (SELECT k, CAST(CEIL(LN(x) / {_DD_LN_GAMMA!r}) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY 1, 2),
c AS (SELECT k, bucket,
             CAST(SUM(cnt) OVER (PARTITION BY k ORDER BY bucket) AS BIGINT) AS cum
      FROM b),
n AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS n FROM b GROUP BY k),
qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.9), (0.99)) t(q)),
r AS (SELECT n.k, n.n, qs.q, CAST(CEIL(qs.q * n.n) AS BIGINT) AS rk
      FROM n CROSS JOIN qs),
pick AS (SELECT r.k, r.q, r.n, r.rk, MIN(c.bucket) AS bucket
         FROM r JOIN c ON c.k = r.k AND c.cum >= r.rk
         GROUP BY 1, 2, 3, 4),
ranked AS (SELECT k, x, ROW_NUMBER() OVER (PARTITION BY k ORDER BY x) AS rn
           FROM v)
SELECT p.k AS event_type, p.q, p.bucket, p.n,
       ROUND(2 * POWER({_DD_GAMMA!r}, p.bucket) / ({_DD_GAMMA!r} + 1), 4) AS est,
       ROUND(rk.x, 4) AS exact_val,
       ROUND(ABS(2 * POWER({_DD_GAMMA!r}, p.bucket) / ({_DD_GAMMA!r} + 1) - rk.x)
             / rk.x, 4) AS rel_err
FROM pick p JOIN ranked rk ON rk.k = p.k AND rk.rn = p.rk
"""


@register("events_ddsketch_quantiles", _DDSKETCH_ORACLE)
def events_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import ddsketch_quantiles

    ev = load_table(spark, sf_dir, "events")
    return ddsketch_quantiles(ev, "event_type", "value", alpha=_DD_ALPHA)


# ---------------------------------------------------------------------------
# Dynamic partition pruning (DPP): the third leg of the engine's
# scan-reduction story next to static partition pruning (SURVEY S3)
# and the bloom runtime filter (lineitem_bloom_prune_revenue). The
# fact (events mirrored partitionBy(event_date)) joins a tiny calendar
# dimension whose filter (weekend days) is only known at RUNTIME from
# the dim's rows — Catalyst injects a dynamicpruning subquery on the
# fact's partition column, so only weekend partition DIRECTORIES are
# ever read. At 100 TB this is the standard star-schema date-dim
# pattern: the fact scan shrinks by the dim's selectivity before a
# single fact byte is shuffled. The oracle states the logical result
# (pruning cannot change it); tests/test_scale_patterns.py pins the
# dynamicpruningexpression in the scan's PartitionFilters.
#
# Measures are integer-only (counts) on purpose: the query's subject
# is scan pruning, and integer outputs keep it float-contract-free
# under every adversarial mirror (NULL ts rows land in the HIVE
# default partition, whose NULL date never equi-joins the calendar —
# identical to the oracle's dayofweek(NULL) IS NULL drop).
# ---------------------------------------------------------------------------

_DPP_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE dayofweek(CAST(ts AS DATE)) IN (0, 6)
GROUP BY event_type
"""


def _events_by_date_dir(spark: SparkSession, sf_dir: str):
    """Mirror `events` as a date-partitioned parquet layout (the 100 TB
    fact layout DPP needs). Cache keyed by source identity; returns
    (path, read_schema) — the explicit schema keeps the read well-typed
    when a zero-row mirror writes no partition directories at all."""
    from pyspark.sql.types import DateType, StructField

    from ..runtime import scratch_dir, source_scratch_key

    key = source_scratch_key(sf_dir, "events.parquet")
    root = scratch_dir("dpp", key)
    data_dir = os.path.join(root, "data")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    marker = os.path.join(root, "_READY")
    if not os.path.exists(marker):
        (
            ev.write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(data_dir)
        )
        with open(marker, "w"):
            pass
    schema = ev.schema
    # partition-column ordering on read: data columns then partition col
    base = [f for f in schema.fields if f.name != "event_date"]
    read_schema = type(schema)(base + [StructField("event_date", DateType())])
    return data_dir, read_schema


@register("events_dpp_weekend_scan", _DPP_ORACLE)
def events_dpp_weekend_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    data_dir, read_schema = _events_by_date_dir(spark, sf_dir)
    fact = spark.read.schema(read_schema).parquet(data_dir)
    # calendar dim from the raw fixture (a real deployment's date dim):
    # tiny, broadcast, and its weekend filter is what DPP turns into a
    # partition filter on the fact scan. Spark dayofweek: 1=Sun..7=Sat.
    cal = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("event_date"))
        .distinct()
        .filter(F.dayofweek("event_date").isin(1, 7))
    )
    return (
        fact.join(F.broadcast(cal), "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
