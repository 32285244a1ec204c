"""Behavioral-analytics wave over the events/lineitem facts: seasonal
anomaly detection, top event paths, market-basket association rules.
(Extension surface — the reference's closest analog is its G2 grouped
aggregates, reference README.md:232-374.)

100 TB shape: all three are explode/window + hash-aggregate plans on
bounded keys — per-user windows (bounded partitions), per-order pair
expansion (bounded by order size), (type, hour) stats joins on
dimension-sized keys.

Float discipline (FIXTURES.md §F): every FILTER / ORDER decision here
is exact integer arithmetic — the 2σ anomaly predicate is evaluated on
sufficient statistics ((n·cnt − S1)²·(n−1) > 4·n·(n·S2 − S1²)), and
lift/confidence rank on floor'd basis points — so no row-set or
ordering decision ever sits on an engine-specific float boundary.
Reported floats are then derived from the same exact integers with the
same op order on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Seasonal anomaly hours: per (event_type, hour-of-day) mean/variance
# of hourly counts across days via exact sufficient statistics; flag
# |cnt − mu| > 2σ. The z report is computed from the same integers
# with the same op order on both engines.
# ---------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH h AS (SELECT event_type,
                  STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS d,
                  CAST(EXTRACT(hour FROM ts) AS INT) AS h,
                  COUNT(*) AS cnt
           FROM events GROUP BY 1, 2, 3),
s AS (SELECT event_type, h, COUNT(*) AS n,
             SUM(cnt)::BIGINT AS s1, SUM(cnt * cnt)::BIGINT AS s2
      FROM h GROUP BY 1, 2)
SELECT h.event_type AS event_type, h.d AS d, h.h AS h, h.cnt AS cnt,
       ROUND(s.s1 / CAST(s.n AS DOUBLE), 4) AS mu,
       ROUND((h.cnt - s.s1 / CAST(s.n AS DOUBLE))
             / SQRT((s.n * s.s2 - s.s1 * s.s1)
                    / CAST(s.n * (s.n - 1) AS DOUBLE)), 4) AS z
FROM h JOIN s USING (event_type, h)
WHERE s.n > 1 AND s.n * s.s2 - s.s1 * s.s1 > 0
  AND (s.n * h.cnt - s.s1) * (s.n * h.cnt - s.s1) * (s.n - 1)
      > 4 * s.n * (s.n * s.s2 - s.s1 * s.s1)
"""


@register("events_seasonal_anomaly_hours", _ANOMALY_ORACLE)
def events_seasonal_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"),
        F.hour("ts").alias("h"),
    ).agg(F.count("*").alias("cnt"))
    s = h.groupBy("event_type", "h").agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    n, s1, s2, cnt = F.col("n"), F.col("s1"), F.col("s2"), F.col("cnt")
    dev = n * cnt - s1  # n·(cnt − mu), exact
    varnum = n * s2 - s1 * s1  # n²·(n−1)/n · σ² numerator, exact
    mu = s1 / n.cast("double")
    sigma = F.sqrt(varnum / (n * (n - 1)).cast("double"))
    return (
        h.join(s, ["event_type", "h"])
        .filter((n > 1) & (varnum > 0) & (dev * dev * (n - 1) > 4 * n * varnum))
        .select(
            "event_type",
            "d",
            "h",
            "cnt",
            F.round(mu, 4).alias("mu"),
            F.round((cnt - mu) / sigma, 4).alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# Top event-type trigram paths: per-user time-ordered sequences, two
# lead() passes sharing one user_id exchange, global top-20 via
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_TRIGRAM_ORACLE = """
WITH o AS (SELECT user_id, event_type,
                  LEAD(event_type, 1) OVER w AS e2,
                  LEAD(event_type, 2) OVER w AS e3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_type AS e1, e2, e3, COUNT(*) AS n
FROM o WHERE e3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, e1, e2, e3
LIMIT 20
"""


@register("events_top_trigram_paths", _TRIGRAM_ORACLE)
def events_top_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        o.groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Market-basket association rules over order baskets: distinct-part
# membership, unordered pair supports, confidence and lift in exact
# basis points (floor'd integer division — no float in any rank or
# filter). Pair expansion is bounded by order size.
# ---------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH m AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM m),
sup AS (SELECT l_partkey, COUNT(*) AS s FROM m GROUP BY 1),
pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_both
          FROM m a JOIN m b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
          HAVING COUNT(*) >= 2)
SELECT p1, p2, n_both,
       (n_both * 10000) // sa.s AS conf_bp,
       (n_both * n.n_orders * 10000) // (sa.s * sb.s) AS lift_bp
FROM pairs
JOIN sup sa ON pairs.p1 = sa.l_partkey
JOIN sup sb ON pairs.p2 = sb.l_partkey
CROSS JOIN n
ORDER BY lift_bp DESC, p1, p2 LIMIT 20
"""


@register("parts_copurchase_lift", _LIFT_ORACLE)
def parts_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select("l_orderkey", "l_partkey").distinct()
    n = m.select("l_orderkey").distinct().agg(F.count("*").alias("n_orders"))
    sup = m.groupBy("l_partkey").agg(F.count("*").alias("s"))
    # pair expansion in-partition (same trick as fixtures_graph):
    # collect the order's distinct parts, emit sorted pairs
    per_order = m.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("parts")
    )
    pairs = (
        per_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (a, i) -> "
                    "transform(slice(parts, i + 2, size(parts) - i - 1), "
                    "b -> struct(a AS p1, b AS p2))))"
                )
            ).alias("pr")
        )
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    sa = sup.select(F.col("l_partkey").alias("p1"), F.col("s").alias("sa"))
    sb = sup.select(F.col("l_partkey").alias("p2"), F.col("s").alias("sb"))
    r = (
        pairs.join(sa, "p1")
        .join(sb, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "n_both",
            F.expr("(n_both * 10000) div sa").alias("conf_bp"),
            F.expr("(n_both * n_orders * 10000) div (sa * sb)").alias("lift_bp"),
        )
    )
    return r.orderBy(F.desc("lift_bp"), "p1", "p2").limit(20)


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis 2006):
# each doc draws a deterministic md5-uniform u and ranks by
# ln(u)/weight (equivalent to u^(1/w)); the global top-k IS a weighted
# sample without replacement. One scan + TakeOrderedAndProject — the
# data-mixing primitive (sample 100 docs proportional to length). The
# only float is the rank key itself, computed from identical integer
# inputs with the same op order on both engines; a flip would need two
# keys within ~1 ulp, which distinct md5 draws do not produce.
# ---------------------------------------------------------------------------

_WSAMPLE_ORACLE = """
WITH t AS (SELECT doc_id, n_chars,
                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'es'),
                                          1, 15)) AS BIGINT) AS h
           FROM documents),
k AS (SELECT doc_id, n_chars,
             LN((h + 1) / 1152921504606846977.0) / n_chars AS k
      FROM t)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS BIGINT) AS rank,
       doc_id, n_chars
FROM k ORDER BY k DESC, doc_id LIMIT 100
"""


@register("docs_weighted_sample", _WSAMPLE_ORACLE)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("es"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + 1) / F.lit(1152921504606846977.0)  # 15 hex digits → (0, 1)
    key = F.log(u) / F.col("n_chars")
    top = (
        docs.select("doc_id", "n_chars", key.alias("k"))
        .orderBy(F.desc("k"), "doc_id")
        .limit(100)
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("k"), "doc_id"))
        .cast("long")
        .alias("rank"),
        "doc_id",
        "n_chars",
    )


# ---------------------------------------------------------------------------
# Per-user Holt double exponential smoothing (level + trend) — the
# forecasting complement of events_ewma_per_user (same streamed
# per-key fold, same alpha=beta=0.5 bit-exactness contract:
# every fold step is halvings + identically-rounded adds, so outputs
# are emitted UNROUNDED). The oracle folds the identical recurrence
# with list_reduce carrying (level, trend) pairs in a flat list.
# ---------------------------------------------------------------------------

_HOLT_ORACLE = """
WITH s AS (
  SELECT user_id,
         list(value ORDER BY ts, value) AS xs,
         list(ts ORDER BY ts, value) AS tss
  FROM events WHERE isfinite(value) GROUP BY user_id
),
folded AS (
  SELECT user_id, tss, xs,
         list_reduce(
           list_prepend([xs[1], 0.0],
                        list_transform(xs[2:], x -> [x])),
           (acc, x) -> list_concat(acc, [
             0.5 * x[1] + 0.5 * (acc[len(acc) - 1] + acc[len(acc)]),
             0.5 * ((0.5 * x[1] + 0.5 * (acc[len(acc) - 1] + acc[len(acc)]))
                    - acc[len(acc) - 1]) + 0.5 * acc[len(acc)]
           ])
         ) AS ys
  FROM s
)
SELECT user_id,
       STRFTIME(UNNEST(tss), '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       UNNEST(xs) AS value,
       UNNEST([ys[2 * i - 1] for i in range(1, len(xs) + 1)]) AS level,
       UNNEST([ys[2 * i] for i in range(1, len(xs) + 1)]) AS trend
FROM folded
"""


@register("events_holt_level_trend", _HOLT_ORACLE)
def events_holt_level_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import holt_per_key

    from ..functions.scalar import finite_measure

    ev = load_table(spark, sf_dir, "events").where(finite_measure("value"))
    out = holt_per_key(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        "value",
        "level",
        "trend",
    )


# ---------------------------------------------------------------------------
# A/B conversion z-test: deterministic variant assignment (user_id
# parity), conversion = user emitted ≥14 purchase events (the fixture
# corpus gives every user ≥1 of every type, so a count threshold is
# the non-degenerate conversion). The two-
# proportion pooled z statistic is computed from exact integer
# sufficient statistics (n1, n2, c1, c2) with the same op order on
# both engines; the integer inputs make the double arithmetic
# identical, so ROUND(z, 4) is stable. Experimentation readout at
# 100 TB = two hash aggregates, no shuffle of raw events beyond the
# per-user collapse.
# ---------------------------------------------------------------------------

_ABTEST_ORACLE = """
WITH u AS (SELECT user_id,
                  CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase')
                            >= 14 THEN 1 ELSE 0 END AS converted
           FROM events GROUP BY user_id),
s AS (SELECT user_id % 2 AS variant, COUNT(*) AS n,
             SUM(converted)::BIGINT AS c
      FROM u GROUP BY 1),
w AS (SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n1,
             MAX(CASE WHEN variant = 0 THEN c END) AS c1,
             MAX(CASE WHEN variant = 1 THEN n END) AS n2,
             MAX(CASE WHEN variant = 1 THEN c END) AS c2
      FROM s)
SELECT n1, c1, n2, c2,
       ROUND(c1 / CAST(n1 AS DOUBLE), 4) AS p1,
       ROUND(c2 / CAST(n2 AS DOUBLE), 4) AS p2,
       ROUND((c1 / CAST(n1 AS DOUBLE) - c2 / CAST(n2 AS DOUBLE))
             / SQRT(((c1 + c2) / CAST(n1 + n2 AS DOUBLE))
                    * (1 - (c1 + c2) / CAST(n1 + n2 AS DOUBLE))
                    * (1.0 / n1 + 1.0 / n2)), 4) AS z
FROM w
"""


@register("events_ab_conversion_ztest", _ABTEST_ORACLE)
def events_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # every fixture user emits every event type, so "any purchase" is
    # degenerate (pp = 1 → zero variance); convert on a count threshold
    u = ev.groupBy("user_id").agg(
        (
            F.count(F.when(F.col("event_type") == "purchase", 1)) >= 14
        ).cast("int").alias("converted")
    )
    s = u.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count("*").alias("n"), F.sum("converted").alias("c")
    )
    w = s.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).alias("c1"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).alias("c2"),
    )
    n1, c1 = F.col("n1"), F.col("c1")
    n2, c2 = F.col("n2"), F.col("c2")
    p1 = c1 / n1.cast("double")
    p2 = c2 / n2.cast("double")
    pp = (c1 + c2) / (n1 + n2).cast("double")
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (F.lit(1.0) / n1 + F.lit(1.0) / n2)
    )
    return w.select(
        "n1", "c1", "n2", "c2",
        F.round(p1, 4).alias("p1"),
        F.round(p2, 4).alias("p2"),
        F.round(z, 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# Eventually-follows matrix (process mining): for each ordered type
# pair (a, b), how many users have SOME a occurrence before SOME later
# b occurrence — equivalently min_ts(a) < max_ts(b) per user, so the
# quadratic-looking relation collapses to a per-(user, type) min/max
# aggregate crossed within the bounded type domain (|types|² per
# user, never |events|²). Complements the directly-follows transition
# matrix (events_transition_matrix).
# ---------------------------------------------------------------------------

_EVENTUALLY_ORACLE = """
WITH st AS (SELECT user_id, event_type,
                   MIN(ts) AS mn, MAX(ts) AS mx
            FROM events GROUP BY 1, 2)
SELECT a.event_type AS e_from, b.event_type AS e_to,
       COUNT(*) AS n_users
FROM st a JOIN st b ON a.user_id = b.user_id
WHERE a.mn < b.mx
GROUP BY 1, 2
"""


@register("events_eventually_follows", _EVENTUALLY_ORACLE)
def events_eventually_follows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    st = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    a = st.select("user_id", F.col("event_type").alias("e_from"), "mn")
    b = st.select("user_id", F.col("event_type").alias("e_to"), "mx")
    return (
        a.join(b, "user_id")
        .filter(F.col("mn") < F.col("mx"))
        .groupBy("e_from", "e_to")
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering: cosine similarity over the
# order-basket co-occurrence matrix, top-3 neighbors per part. The
# ranking key is the exact integer cos² in basis-points-squared
# (n_both²·10⁸ // (sa·sb)) — no float ever decides an order — and the
# reported cosine derives from the same integers. Same in-partition
# pair expansion as the lift query; the per-item top-k is a bounded
# window.
# ---------------------------------------------------------------------------

_ITEMCF_ORACLE = """
WITH m AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sup AS (SELECT l_partkey, COUNT(*) AS s FROM m GROUP BY 1),
pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_both
          FROM m a JOIN m b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
          HAVING COUNT(*) >= 2),
sym AS (SELECT p1 AS item, p2 AS neighbor, n_both FROM pairs
        UNION ALL SELECT p2, p1, n_both FROM pairs),
sc AS (SELECT sym.item, sym.neighbor, sym.n_both,
              CAST((sym.n_both * sym.n_both * 100000000)
                   // (sa.s * sb.s) AS BIGINT) AS cos2_bp2,
              ROUND(sym.n_both / SQRT(sa.s * sb.s), 4) AS cosine
       FROM sym
       JOIN sup sa ON sym.item = sa.l_partkey
       JOIN sup sb ON sym.neighbor = sb.l_partkey)
SELECT item, neighbor, n_both, cos2_bp2, cosine,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
                                   ORDER BY cos2_bp2 DESC, neighbor) AS rnk
      FROM sc)
WHERE rnk <= 3
"""


@register("parts_itemitem_cf_topk", _ITEMCF_ORACLE)
def parts_itemitem_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import top_k_per_group

    li = load_table(spark, sf_dir, "lineitem")
    m = li.select("l_orderkey", "l_partkey").distinct()
    sup = m.groupBy("l_partkey").agg(F.count("*").alias("s"))
    per_order = m.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("parts")
    )
    pairs = (
        per_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (a, i) -> "
                    "transform(slice(parts, i + 2, size(parts) - i - 1), "
                    "b -> struct(a AS p1, b AS p2))))"
                )
            ).alias("pr")
        )
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    sym = pairs.select(
        F.col("p1").alias("item"), F.col("p2").alias("neighbor"), "n_both"
    ).unionByName(
        pairs.select(
            F.col("p2").alias("item"), F.col("p1").alias("neighbor"), "n_both"
        )
    )
    sa = sup.select(F.col("l_partkey").alias("item"), F.col("s").alias("sa"))
    sb = sup.select(F.col("l_partkey").alias("neighbor"), F.col("s").alias("sb"))
    sc = (
        sym.join(sa, "item")
        .join(sb, "neighbor")
        .select(
            "item",
            "neighbor",
            "n_both",
            F.expr("(n_both * n_both * 100000000) div (sa * sb)").alias(
                "cos2_bp2"
            ),
            F.round(
                F.col("n_both") / F.sqrt(F.col("sa") * F.col("sb")), 4
            ).alias("cosine"),
        )
    )
    top = top_k_per_group(
        sc, ["item"], [F.desc("cos2_bp2"), F.asc("neighbor")], 3
    )
    from pyspark.sql import Window

    return top.withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("item").orderBy(
                F.desc("cos2_bp2"), F.asc("neighbor")
            )
        )
        .cast("long"),
    ).select("item", "neighbor", "n_both", "cos2_bp2", "cosine", "rank")


# ---------------------------------------------------------------------------
# Exponentially time-decayed activity scores — the "trending now"
# operator: each event contributes 0.5^(age/halflife) with age
# measured from the corpus's max timestamp, so one map-side-combined
# aggregate per user yields a recency-weighted activity ranking
# without any window state. The decay-sum is the canonical
# incremental form (score(t2) = score(t1)·0.5^(Δ/hl) + new events),
# which is what makes it maintainable at 100 TB. Float discipline:
# the score is a reported column only (ROUND 4, same operand order
# both engines per FIXTURES.md §F/dsir precedent); no filter or
# ranking decision consumes it — n_events and the grid are exact.
# ---------------------------------------------------------------------------

_DECAY_HALFLIFE_H = 24.0

_DECAYED_ORACLE = f"""
WITH ref AS (SELECT MAX(ts) AS mt FROM events),
w AS (SELECT user_id,
             POWER(0.5, ((epoch(ref.mt) - epoch(ts)) / 3600.0)
                        / {_DECAY_HALFLIFE_H}) AS wt
      FROM events, ref
      WHERE user_id IS NOT NULL AND ts IS NOT NULL)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(wt), 4) AS decayed_score
FROM w GROUP BY user_id
"""


@register("events_decayed_activity", _DECAYED_ORACLE)
def events_decayed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ref = ev.agg(F.max("ts").alias("mt"))
    wt = F.pow(
        F.lit(0.5),
        ((F.col("mt").cast("double") - F.col("ts").cast("double")) / F.lit(3600.0))
        / F.lit(_DECAY_HALFLIFE_H),
    )
    return (
        ev.crossJoin(F.broadcast(ref))
        .select("user_id", wt.alias("wt"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("wt"), 4).alias("decayed_score"),
        )
    )


# ---------------------------------------------------------------------------
# Normalized pointwise mutual information (NPMI; Bouma, GSCL 2009)
# over the same order-basket pair supports as the lift query —
# npmi(a,b) = ln(P(a,b) / (P(a)·P(b))) / (−ln P(a,b)), mapped to
# [−1, 1], the information-theoretic association that (unlike lift)
# doesn't explode for rare pairs. All probabilities are exact integer
# count ratios composed INSIDE the ln's (ln((n_both·N)/(sa·sb))), so
# the only float steps are the two ln's and the division — ROUND(.,4)
# and the rounded-value + pair-key ordering pin the top-20 cut. The
# n_both ≥ 2 support floor matches the lift fixture's (stated, both
# engines); n_both < N guards the npmi = ln(N/n_both) = 0 denominator
# (a pair present in EVERY basket), impossible under the floor at any
# tested sf but still pinned identically on both sides.
#
# 100 TB shape: identical to lift — in-partition pair expansion
# bounded by basket size, one pair-key shuffle, two support joins on
# the part key; N arrives via one broadcast scalar.
# ---------------------------------------------------------------------------

_NPMI_ORACLE = """
WITH m AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM m),
sup AS (SELECT l_partkey, COUNT(*) AS s FROM m GROUP BY 1),
pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_both
          FROM m a JOIN m b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
          HAVING COUNT(*) >= 2)
SELECT p1, p2, CAST(n_both AS BIGINT) AS n_both,
       ROUND(LN(CAST(n_both AS DOUBLE) * n.n_orders / (sa.s * sb.s))
             / LN(CAST(n.n_orders AS DOUBLE) / n_both), 4) AS npmi
FROM pairs
JOIN sup sa ON pairs.p1 = sa.l_partkey
JOIN sup sb ON pairs.p2 = sb.l_partkey
CROSS JOIN n
WHERE n_both < n.n_orders
ORDER BY npmi DESC, p1, p2 LIMIT 20
"""


@register("parts_copurchase_npmi", _NPMI_ORACLE)
def parts_copurchase_npmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select("l_orderkey", "l_partkey").distinct()
    n = m.select("l_orderkey").distinct().agg(F.count("*").alias("n_orders"))
    sup = m.groupBy("l_partkey").agg(F.count("*").alias("s"))
    per_order = m.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("parts")
    )
    pairs = (
        per_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (a, i) -> "
                    "transform(slice(parts, i + 2, size(parts) - i - 1), "
                    "b -> struct(a AS p1, b AS p2))))"
                )
            ).alias("pr")
        )
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    sa = sup.select(F.col("l_partkey").alias("p1"), F.col("s").alias("sa"))
    sb = sup.select(F.col("l_partkey").alias("p2"), F.col("s").alias("sb"))
    r = (
        pairs.join(sa, "p1")
        .join(sb, "p2")
        .crossJoin(F.broadcast(n))
        .filter(F.col("n_both") < F.col("n_orders"))
        .select(
            "p1",
            "p2",
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                F.log(
                    F.col("n_both").cast("double")
                    * F.col("n_orders")
                    / (F.col("sa") * F.col("sb"))
                )
                / F.log(
                    F.col("n_orders").cast("double") / F.col("n_both")
                ),
                4,
            ).alias("npmi"),
        )
    )
    return r.orderBy(F.desc("npmi"), "p1", "p2").limit(20)
