"""Storage-layer wave: file provenance tracking at ingest and
footer-statistics aggregation (parquet aggregate pushdown).

(Extension surface — the reference's S-family reads monthly CSV files
whose identity IS the provenance, reference README.md:90-107; these
queries re-express that bookkeeping for a parquet lake.)

100 TB notes: `input_file_name()` is metadata already attached to
every scan task (zero extra I/O); the footer-stats aggregate reads NO
data pages at all — MIN/MAX/COUNT come from parquet footers, which is
how a 100 TB fleet answers "how many rows / what key range" in
seconds. Both properties are pinned by plan tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .fixtures_corpus_model import _docs_bucket_stream_dir
from .registry import register

# ---------------------------------------------------------------------------
# Per-file ingest provenance: read the 4-file bucket mirror of
# `documents` (bucket b = doc_id % 4, one parquet file per bucket) and
# account each file's contribution via input_file_name() — the lineage
# ledger every multi-source ingest keeps. The oracle recomputes the
# bucket assignment from the data.
# ---------------------------------------------------------------------------

_PROVENANCE_ORACLE = """
SELECT CAST(doc_id % 4 AS INT) AS bucket,
       COUNT(*) AS n_docs,
       SUM(n_chars)::BIGINT AS total_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY 1
"""


@register("ingest_file_provenance", _PROVENANCE_ORACLE)
def ingest_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, _ = _docs_bucket_stream_dir(spark, sf_dir)
    d = spark.read.parquet(src).withColumn(
        "bucket",
        F.regexp_extract(F.input_file_name(), r"bucket(\d+)\.parquet", 1).cast(
            "int"
        ),
    )
    return d.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# Footer-statistics aggregate: MIN/MAX/COUNT answered from parquet
# footers via DSv2 aggregate pushdown — no data pages read. The
# session configs are scoped to the call and restored after plan
# construction (Spark captures them at analysis time).
# ---------------------------------------------------------------------------

_FOOTER_ORACLE = """
SELECT MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       COUNT(*) AS n_rows, MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
"""


@register("storage_footer_stats_agg", _FOOTER_ORACLE)
def storage_footer_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    # Spark's parquet aggregate pushdown RAISES at execution on files
    # with no row-group stats ("No min/max found...", by design) — a
    # zero-row source must take the ordinary aggregate instead. The
    # probe is a limit-1 scan, metadata-cheap.
    if spark.read.parquet(path).isEmpty():
        return spark.read.parquet(path).agg(
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.count("*").alias("n_rows"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    before = (
        spark.conf.get("spark.sql.parquet.aggregatePushdown", "false"),
        spark.conf.get("spark.sql.sources.useV1SourceList", None),
    )
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(path).agg(
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.count("*").alias("n_rows"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        # force analysis while the configs are active — the scan's
        # pushed aggregation is decided here, not at execution
        df._jdf.queryExecution().executedPlan()
        return df
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", before[0])
        if before[1] is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", before[1])


# ---------------------------------------------------------------------------
# PERMISSIVE JSON ingest with corrupt-record accounting: every 7th
# line of a JSONL mirror is deterministically truncated; the reader
# must park those rows in _corrupt_record (all data fields null) and
# keep the rest. The JSON analog of the CSV DROPMALFORMED coverage
# (ingest_csv_malformed_drop) — at 100 TB you quarantine, not drop.
# The parsed frame is cached before aggregation per the documented
# Spark caveat (queries referencing the corrupt column require a
# materialized parse).
# ---------------------------------------------------------------------------

_CORRUPT_ORACLE = """
WITH valid AS (SELECT lang, COUNT(*) AS n, SUM(n_chars)::BIGINT AS chars
               FROM documents WHERE doc_id % 7 != 0 GROUP BY lang),
bad AS (SELECT '__corrupt__' AS lang, COUNT(*) AS n, 0::BIGINT AS chars
        FROM documents WHERE doc_id % 7 = 0 HAVING COUNT(*) > 0)
SELECT lang, n, chars FROM valid UNION ALL SELECT lang, n, chars FROM bad
"""


@register("ingest_json_corrupt_records", _CORRUPT_ORACLE)
def ingest_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..runtime import cache_tracked

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), "adhps_json_corrupt", tag)
    shutil.rmtree(root, ignore_errors=True)

    docs = load_table(spark, sf_dir, "documents")
    line = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    corrupted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.substring(line, 1, 10), F.lit("<<<not json")),
    ).otherwise(line)
    docs.select(corrupted.alias("value")).write.mode("overwrite").text(root)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    parsed = cache_tracked(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(root)
    )
    return parsed.groupBy(
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("__corrupt__"))
        .otherwise(F.col("lang"))
        .alias("lang")
    ).agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("chars"),
    )


# ---------------------------------------------------------------------------
# Column-level migration checksums: per-column null count, distinct
# count, and an order-insensitive content checksum (sum of bounded
# md5 integers over canonicalized string values) — the validation
# ledger for any copy/migration/engine swap: equal checksums ⇒ equal
# column content without moving either side's data. One scan: the
# columns ride as an exploded (column, value) array. Doubles are
# canonicalized to exact cents before hashing (engine float-to-string
# rendering differs; integers do not).
# ---------------------------------------------------------------------------

_CHECKSUM_COLS_SQL = """
  SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS s FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
  UNION ALL
  SELECT 'o_totalprice_cents',
         CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') FROM orders
"""

_CHECKSUM_ORACLE = f"""
WITH e AS ({_CHECKSUM_COLS_SQL})
SELECT col AS column, COUNT(*) AS n_rows,
       (COUNT(*) - COUNT(s))::BIGINT AS n_null,
       COUNT(DISTINCT s) AS n_distinct,
       SUM(CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)
           % 1000000000)::BIGINT AS checksum
FROM e GROUP BY col
"""


@register("dq_column_checksums", _CHECKSUM_ORACLE)
def dq_column_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cols = [
        ("o_orderkey", F.col("o_orderkey").cast("string")),
        ("o_custkey", F.col("o_custkey").cast("string")),
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_orderpriority", F.col("o_orderpriority")),
        (
            "o_totalprice_cents",
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        ),
        ("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")),
    ]
    arr = F.array(
        *[
            F.struct(F.lit(n).alias("column"), e.alias("s"))
            for n, e in cols
        ]
    )
    ex = orders.select(F.explode(arr).alias("c")).select("c.column", "c.s")
    h = (
        F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint")
        % F.lit(1_000_000_000)
    )
    return ex.groupBy("column").agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("s")).alias("n_null"),
        F.countDistinct("s").alias("n_distinct"),
        F.sum(h).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Incremental near-dup maintenance: delta docs (doc_id % 5 = 0) vs the
# existing corpus — the growing-corpus ingest loop (probe the
# persisted LSH index, never re-pair the base with itself). Oracle =
# exact Jaccard over all pairs touching the delta.
# ---------------------------------------------------------------------------

_W = "string_split_regex(lower(trim(text)), '\\s+')"

# r5: identical-set collapse + df-ordered prefix filter (the same
# exact rewrite as fixtures_extensions._MINHASH_ORACLE — see the
# pigeonhole/collapse argument there), with the delta restriction
# (doc_id % 5 = 0 on either side) applied at clique expansion; the
# rep-level verify is over the FULL corpus because a delta member's
# group representative may be a base doc. Verified identical to the
# all-pairs version at sf0.01; no longer quadratic at sf0.1.
_INC_MINHASH_ORACLE = f"""
WITH sh0 AS (SELECT doc_id, list_sort(list_distinct({_W})) AS s FROM documents
             WHERE len({_W}) > 0),
key AS (SELECT doc_id, md5(array_to_string(s, chr(1))) AS gk, s FROM sh0),
grp AS (SELECT gk, MIN(doc_id) AS rep FROM key GROUP BY 1),
mem AS (SELECT gk, doc_id FROM key),
rsh AS (SELECT g.gk, k.s, len(k.s) AS sz FROM grp g JOIN key k ON k.doc_id = g.rep),
tok AS (SELECT gk, UNNEST(s) AS g FROM rsh),
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
rp AS (SELECT i.gka, i.gkb,
              CAST(i.i AS DOUBLE) / (a.sz + b.sz - i.i) AS j
       FROM inter i JOIN rsh a ON a.gk = i.gka JOIN rsh b ON b.gk = i.gkb
       WHERE CAST(i.i AS DOUBLE) / (a.sz + b.sz - i.i) >= 0.9),
cross_pairs AS (
  SELECT LEAST(ma.doc_id, mb.doc_id) AS id_a,
         GREATEST(ma.doc_id, mb.doc_id) AS id_b,
         ROUND(r.j, 4) AS jaccard
  FROM rp r JOIN mem ma ON ma.gk = r.gka JOIN mem mb ON mb.gk = r.gkb
  WHERE ma.doc_id % 5 = 0 OR mb.doc_id % 5 = 0),
intra_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0 AS jaccard
  FROM mem a JOIN mem b ON a.gk = b.gk AND a.doc_id < b.doc_id
  WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
SELECT id_a, id_b, jaccard FROM cross_pairs
UNION ALL
SELECT id_a, id_b, jaccard FROM intra_pairs
"""


def _minhash_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the base corpus's LSH index once per source fixture
    (cache keyed by file identity, like the stream mirrors) — the
    query then measures what a production batch pays: probe cost, not
    index rebuild."""
    import os
    import shutil

    from ..operators import dedup as D
    from ..runtime import scratch_dir, source_scratch_key

    key = source_scratch_key(sf_dir, "documents.parquet")
    # key includes the LSH signature shape: a change must invalidate
    # the persisted index, not silently serve stale buckets
    path = scratch_dir(
        "minhash_index", f"{key}_n1_h{D.INDEX_NUM_HASHES}_b{D.INDEX_BANDS}"
    )
    marker = os.path.join(path, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 5 != 0)
        idx = D.minhash_build_index(base, "doc_id", "text")
        for name in ("grp", "reps", "banded"):
            idx[name].write.mode("overwrite").parquet(
                os.path.join(path, name)
            )
        with open(marker, "w"):
            pass
    return path


@register("dedup_minhash_incremental", _INC_MINHASH_ORACLE)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators import dedup as D

    path = _minhash_index_dir(spark, sf_dir)
    index = {
        name: spark.read.parquet(os.path.join(path, name))
        for name in ("grp", "reps", "banded")
    }
    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    return D.minhash_probe_index(index, delta, "doc_id", "text")


# ---------------------------------------------------------------------------
# Privacy audit: k-anonymity / l-diversity over quasi-identifiers.
# Every (nation, segment) equivalence class with fewer than k=5
# members is a re-identification risk; l counts distinct values of the
# sensitive attribute (order priority of the customer's orders) per
# class. One aggregate per class + one join — the release-gate report
# a 100 TB PII pipeline runs before publishing.
# ---------------------------------------------------------------------------

_KANON_ORACLE = """
WITH cls AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
                    COUNT(*) AS k_size
             FROM customer GROUP BY 1, 2),
sens AS (SELECT c.c_nationkey AS nation, c.c_mktsegment AS segment,
                COUNT(DISTINCT o.o_orderpriority) AS l_div
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY 1, 2)
SELECT cls.nation AS nation, cls.segment AS segment, cls.k_size,
       COALESCE(sens.l_div, 0) AS l_div,
       CAST(cls.k_size < 5 AS INT) AS k_risk
FROM cls LEFT JOIN sens ON cls.nation = sens.nation
                        AND cls.segment = sens.segment
"""


@register("dq_k_anonymity", _KANON_ORACLE)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cls = cust.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(F.count("*").alias("k_size"))
    sens = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.countDistinct("o_orderpriority").alias("l_div"))
    )
    return cls.join(sens, ["nation", "segment"], "left").select(
        "nation",
        "segment",
        "k_size",
        F.coalesce("l_div", F.lit(0)).alias("l_div"),
        (F.col("k_size") < 5).cast("int").alias("k_risk"),
    )


# ---------------------------------------------------------------------------
# SQL-defined scalar UDF (Spark 4 CREATE FUNCTION ... RETURN <expr>):
# the declarative end of the §2.8 UDF spectrum — the body is a
# Catalyst expression, so unlike Python UDFs it inlines into codegen
# (no serialization boundary) while still giving analysts a reusable
# named function. Registered per session; the query both defines and
# exercises it.
# ---------------------------------------------------------------------------

_SQL_UDF_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       SUM(len(string_split_regex(lower(trim(text)), '\\s+')))::BIGINT
           AS total_tokens,
       MAX(len(string_split_regex(lower(trim(text)), '\\s+'))) AS max_tokens
FROM documents GROUP BY lang
"""


@register("sql_udf_token_stats", _SQL_UDF_ORACLE)
def sql_udf_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__docs_sql_udf"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tok_cnt(s STRING) "
        "RETURNS BIGINT RETURN "
        "CAST(size(split(lower(trim(s)), '\\\\s+')) AS BIGINT)"
    )
    return spark.sql(
        """
        SELECT lang,
               COUNT(*) AS n_docs,
               SUM(tok_cnt(text)) AS total_tokens,
               MAX(tok_cnt(text)) AS max_tokens
        FROM __docs_sql_udf GROUP BY lang
        """
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix of the marker-word
# classifier against the labeled lang column, with exact basis-point
# row fractions — the eval-harness readout that accompanies any
# heuristic classifier in a data pipeline.
# ---------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    from .fixtures_extensions import _LANGID_ORACLE

    return f"""
WITH pred AS ({_LANGID_ORACLE}),
j AS (SELECT d.lang AS true_lang, p.pred_lang, COUNT(*) AS n
      FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2)
SELECT true_lang, pred_lang, n,
       CAST((n * 10000) // SUM(n) OVER (PARTITION BY true_lang) AS BIGINT)
           AS row_frac_bp
FROM j
"""


@register("text_langid_confusion", _langid_confusion_oracle())
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    pred = X.langid_scores(docs, "doc_id", "text").select("doc_id", "pred_lang")
    j = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    return j.withColumn(
        "__tot", F.sum("n").over(Window.partitionBy("true_lang"))
    ).select(
        "true_lang",
        "pred_lang",
        "n",
        F.expr("(n * 10000) div __tot").alias("row_frac_bp"),
    )


# ---------------------------------------------------------------------------
# Write-audit-publish: stage an aggregate to a scratch table, AUDIT it
# (row count, key uniqueness, checksum) before atomically publishing
# (directory rename); readers only ever see audited data. The query
# returns the published table + its audit verdict columns. The WAP
# pattern is how a 100 TB lake gates bad pipeline runs out of
# production tables.
# ---------------------------------------------------------------------------

_WAP_ORACLE = """
WITH agg AS (SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
                    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))::BIGINT
                        AS cents
             FROM orders GROUP BY 1)
SELECT priority, n_orders, cents, 1 AS audit_passed FROM agg
"""


@register("warehouse_write_audit_publish", _WAP_ORACLE)
def warehouse_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import uuid

    from ..runtime import scratch_dir

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = scratch_dir("wap", tag)
    shutil.rmtree(root, ignore_errors=True)
    stage = os.path.join(root, f"__stage_{uuid.uuid4().hex[:8]}")
    publish = os.path.join(root, "published")

    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        ).alias("cents"),
    )
    agg.write.mode("overwrite").parquet(stage)

    # AUDIT the staged files (never the in-memory frame: the files are
    # what readers will see): non-empty, unique keys, totals reconcile
    staged = spark.read.parquet(stage)
    audit = staged.agg(
        F.count("*").alias("rows"),
        F.countDistinct("priority").alias("keys"),
        F.sum("n_orders").alias("n_total"),
    ).collect()[0]
    src_total = orders.count()
    # an empty SOURCE legitimately stages an empty table — the gate
    # checks reconciliation, not absolute non-emptiness
    ok = (
        audit["rows"] == audit["keys"]
        and (audit["n_total"] or 0) == src_total
        and (audit["rows"] > 0 or src_total == 0)
    )
    if not ok:  # pragma: no cover - the gate this pattern exists for
        raise RuntimeError(f"WAP audit failed: {audit}, source={src_total}")
    os.rename(stage, publish)  # atomic publish
    return spark.read.parquet(publish).withColumn(
        "audit_passed", F.lit(1)
    )


# ---------------------------------------------------------------------------
# Small-file compaction plan: derive a monthly file manifest from
# `orders` (one "file" per order month, bytes estimated at a fixed row
# width), then greedy sorted-scan bin-packing into ~target-sized
# compaction groups (operators/relational.py:bin_pack_manifest). The
# report states, per planned output file: input-file count, total
# bytes, and the month range it covers — exactly what an Iceberg
# binPack / Delta OPTIMIZE planner emits before the rewrite jobs
# launch. The window runs over the manifest (≤ ~100 rows here, ~10^5
# at 100 TB), never over data.
# ---------------------------------------------------------------------------

_ROW_BYTES = 128
_TARGET_BYTES = 256 * 1024

_COMPACTION_ORACLE = f"""
WITH manifest AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS file_month,
         COUNT(*) * {_ROW_BYTES} AS bytes
  FROM orders GROUP BY 1),
packed AS (
  SELECT file_month, bytes,
         CAST(FLOOR((SUM(bytes) OVER (ORDER BY file_month
                     ROWS UNBOUNDED PRECEDING) - bytes)
                    / {_TARGET_BYTES}.0) AS BIGINT) AS compaction_group
  FROM manifest)
SELECT compaction_group,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       MIN(file_month) AS first_month,
       MAX(file_month) AS last_month
FROM packed GROUP BY 1
"""


@register("storage_compaction_bin_pack", _COMPACTION_ORACLE)
def storage_compaction_bin_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import bin_pack_manifest

    orders = load_table(spark, sf_dir, "orders")
    manifest = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("file_month")
    ).agg((F.count(F.lit(1)) * _ROW_BYTES).alias("bytes"))
    packed = bin_pack_manifest(
        manifest, "bytes", "file_month", _TARGET_BYTES
    )
    return packed.groupBy("compaction_group").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("total_bytes"),
        F.min("file_month").alias("first_month"),
        F.max("file_month").alias("last_month"),
    )


# ---------------------------------------------------------------------------
# Merge-on-read with POSITION DELETES (the Iceberg v2 / Delta
# deletion-vector read path): the base table is a set of immutable
# parquet "data files"; a delete commit writes only a tiny
# (file_path, row_index) manifest; readers reconstruct the live table
# by anti-joining positions — no base-file rewrite ever happens.
# Spark's `_metadata.file_path` / `_metadata.row_index` hidden columns
# supply the positions on both the delete-build and read sides.
#
# 100 TB shape: the delete manifest is orders-of-magnitude smaller
# than the base (it broadcasts), and because file_path is the leading
# join key, only rows from files that actually carry deletes pay a
# probe — files without deletes stream through the broadcast hash
# anti-join untouched, which is exactly how table formats scope
# delete application per file. The oracle states the business-level
# outcome (rows minus the deleted keys), proving the positional
# round-trip preserved row identity end to end.
# ---------------------------------------------------------------------------


def _orders_mor_dir(spark: SparkSession, sf_dir: str) -> tuple[str, str, object]:
    """Mirror `orders` as 4 immutable single-file buckets (o_orderkey
    % 4, sorted by key within each file) plus a position-delete
    manifest for the business predicate (o_orderkey % 7 == 0 AND
    o_orderstatus = 'F'). Cache keyed by source identity, like
    _docs_bucket_stream_dir."""
    import glob
    import os
    import shutil

    from ..runtime import scratch_dir, source_scratch_key

    key = source_scratch_key(sf_dir, "orders.parquet")
    root = scratch_dir("mor", key)
    data_dir = os.path.join(root, "data")
    del_dir = os.path.join(root, "deletes")
    orders = load_table(spark, sf_dir, "orders")
    marker = os.path.join(root, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(data_dir, exist_ok=True)
        for b in range(4):
            tmp = os.path.join(root, f"__tmp{b}")
            (
                orders.filter(F.col("o_orderkey") % 4 == b)
                .repartition(1)
                .sortWithinPartitions("o_orderkey")
                .write.mode("overwrite")
                .parquet(tmp)
            )
            parts = glob.glob(os.path.join(tmp, "part-*.parquet"))
            if parts:  # a zero-row bucket stages no data file
                shutil.move(
                    parts[0], os.path.join(data_dir, f"orders{b}.parquet")
                )
            shutil.rmtree(tmp, ignore_errors=True)
        # the delete COMMIT: positions of predicate rows, nothing else
        base = spark.read.schema(orders.schema).parquet(data_dir)
        (
            base.filter(
                (F.col("o_orderkey") % 7 == 0)
                & (F.col("o_orderstatus") == "F")
            )
            .select(
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("row_index"),
            )
            .repartition(1)
            .write.mode("overwrite")
            .parquet(del_dir)
        )
        with open(marker, "w"):
            pass
    return data_dir, del_dir, orders.schema


_MOR_ORACLE = """
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS cents
FROM orders
WHERE NOT (o_orderkey % 7 = 0 AND o_orderstatus = 'F')
GROUP BY 1
"""


@register("orders_mor_position_deletes", _MOR_ORACLE)
def orders_mor_position_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    data_dir, del_dir, schema = _orders_mor_dir(spark, sf_dir)
    base = spark.read.schema(schema).parquet(data_dir).select(
        "*",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    # explicit schema on the manifest read: a zero-row commit writes a
    # schema-only (or no) file, and a catalog would supply this anyway
    del_schema = StructType(
        [
            StructField("file_path", StringType()),
            StructField("row_index", LongType()),
        ]
    )
    deletes = spark.read.schema(del_schema).parquet(del_dir)
    # no broadcast hint: the position-delete set scales with delete
    # churn between compactions (r10 broadcast audit) — AQE broadcasts
    # small delete manifests and shuffles pathological ones
    live = base.join(
        deletes, ["file_path", "row_index"], "left_anti"
    )
    return live.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        ).alias("cents"),
    )


# ---------------------------------------------------------------------------
# CDC change-log apply (Debezium-shaped I/U/D replay): a deterministic
# per-key operation log — insert for every order, an update for every
# 5th, a delete for every 7th, a delete-then-REINSERT for every 35th
# (the case that proves apply takes the truly-last op, not "any
# tombstone wins") — compacted to the final table state by
# last-writer-wins on the log sequence number.
#
# The 100 TB shape is the aggregation, not a window: per-key arg-max
# (max_by over the LSN) is map-side combinable, so compacting a
# changelog onto a snapshot is ONE shuffle with partial aggregation
# and no per-key sort — the upsert-compaction kernel of every
# log-structured table service. Price mutations are exact float ops
# (x2 and /2 never round), so the output needs no tolerance.
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH log AS (
  SELECT o_orderkey AS k, 1 AS lsn, 'I' AS op,
         o_totalprice AS price, o_orderpriority AS priority
  FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'U', o_totalprice * 2, '1-URGENT'
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'D', NULL, NULL
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 4, 'I', o_totalprice / 2, o_orderpriority
  FROM orders WHERE o_orderkey % 35 = 0
),
applied AS (
  SELECT k AS o_orderkey,
         max_by(op, lsn) AS op,
         max_by(price, lsn) AS price,
         max_by(priority, lsn) AS priority,
         CAST(COUNT(*) AS BIGINT) AS n_ops,
         CAST(MAX(lsn) AS BIGINT) AS last_lsn
  FROM log GROUP BY k
)
SELECT o_orderkey, price, priority, n_ops, last_lsn
FROM applied WHERE op <> 'D'
"""


@register("orders_cdc_log_apply", _CDC_ORACLE)
def orders_cdc_log_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice", "o_orderpriority")

    def entry(df: DataFrame, lsn: int, op: str, price, priority) -> DataFrame:
        return df.select(
            F.col("o_orderkey").alias("k"),
            F.lit(lsn).alias("lsn"),
            F.lit(op).alias("op"),
            price.alias("price"),
            priority.alias("priority"),
        )

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    log = (
        entry(base, 1, "I", F.col("o_totalprice"), F.col("o_orderpriority"))
        .unionByName(entry(
            base.filter(F.col("o_orderkey") % 5 == 0), 2, "U",
            F.col("o_totalprice") * 2, F.lit("1-URGENT"),
        ))
        .unionByName(entry(
            base.filter(F.col("o_orderkey") % 7 == 0), 3, "D",
            null_d, null_s,
        ))
        .unionByName(entry(
            base.filter(F.col("o_orderkey") % 35 == 0), 4, "I",
            F.col("o_totalprice") / 2, F.col("o_orderpriority"),
        ))
    )
    # last-writer-wins compaction: ONE map-side-combinable aggregate
    # (arg-max per column on the unique-per-key LSN), no window sort
    applied = log.groupBy(F.col("k").alias("o_orderkey")).agg(
        F.max_by("op", "lsn").alias("op"),
        F.max_by("price", "lsn").alias("price"),
        F.max_by("priority", "lsn").alias("priority"),
        F.count(F.lit(1)).alias("n_ops"),
        F.max("lsn").cast("long").alias("last_lsn"),
    )
    return applied.filter(F.col("op") != "D").select(
        "o_orderkey", "price", "priority", "n_ops", "last_lsn"
    )
