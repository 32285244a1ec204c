"""Call-site audit: every `F.broadcast(...)`, `collect_list` /
`collect_set` and `.crossJoin(...)` call in the package carries a
written size class (the hazard classes after windows, which
plans/window_audit.py audits from the plans).

Three kinds of site, one gate:

- **broadcast** — the hinted frame is shipped whole to every task, so
  a data-scaled frame is an OOM at scale. Three rounds found such
  hints by hand (vocabulary-scaled tfidf sides, key-cardinality-scaled
  KMV readouts, fact-scaled TPC-H sides); every remaining hint carries
  the SIZE PROVENANCE of its frame.
- **collect** — the whole group lands in ONE array cell of ONE row, so
  an unbounded group is an OOM (a 10^8-member posting list or hub
  adjacency does not fit in a cell). The class names what bounds the
  CELL, not the group count.
- **crossjoin** — output is |left| x |right|, so the class is the size
  of the smaller side, drawn from the bounded-rows subset of the
  broadcast classes; a fact x fact cross join has no honest class and
  must be restructured. A `crossJoin(F.broadcast(x))` takes the class
  of the broadcast entry for `x` in the same function, so a frame's
  size class is written once. Only a cross join over a frame that is
  not broadcast has an entry of its own.

`scan_sites()` keys each site by (kind, package-relative path,
enclosing function, unparsed first argument). Line numbers are NOT
part of the key, and the rendered inventory omits them, so moving code
invalidates neither adjudications nor CALL_SITE_AUDIT.md; renaming the
frame or function does, which is correct — a changed expression needs
a fresh look.

Every site must match an `allow(...)` entry whose class is one of
`CLASSES[kind]`, with a written reason: the adjudication trail. A
site without one is UNADJUDICATED, and an entry matching no site is
STALE; both fail tests/test_broadcast_audit.py and
tests/test_cell_audit.py, so a new site cannot land unclassified and
the table cannot rot. `scripts/call_site_audit.py` writes
`render_inventory` to CALL_SITE_AUDIT.md.
"""

from __future__ import annotations

import ast
import os
from collections import Counter
from dataclasses import dataclass

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# kind -> class -> what bounds a site of that class
CLASSES: dict[str, dict[str, str]] = {
    "broadcast": {
        "scalar": "one-row (or a few literal rows) aggregates: totals, "
                  "thresholds, solver outputs, fit params",
        "dimension": "bounded key domains that do not grow with fact "
                     "rows: nation/region, event types, languages, "
                     "quality buckets, hour-of-day grids, k centroids",
        "calendar": "date/time spines and lag grids, bounded by the "
                    "data's time span, not its row count",
        "offset": "the two-pass primitives' per-range-partition offset "
                  "tables: rows = shuffle partition count",
        "sketch-state": "fixed-size sketch/codebook state: bloom words "
                        "(bits/64), count-min (w x d), PQ codebooks "
                        "(m x 256)",
        "node-table": "graph node frames, node cardinality << edges; "
                      "the operators document the broadcast->shuffle "
                      "knob for billion-node graphs inline",
        "cap-guard": "bounded by an enforced cap with a loud failure "
                     "path (hot-bucket lists in dedup)",
        "contract": "the operator/fixture documents a low-cardinality "
                    "or small-side input contract and is meaningless "
                    "outside it (pairwise sketch overlap, probe-set ANN "
                    "scoring, target encoding)",
        "pattern-pinned": "the query exists to pin the broadcast-hash "
                          "plan shape itself (tests/test_plan_shapes.py)",
    },
    "collect": {
        "entity": "the cell holds one entity's own items (a doc's "
                  "tokens / spans / kept blocks, a basket's parts): "
                  "entities scale in COUNT, not size",
        "k-bounded": "an upstream literal rank filter / top-k / slice "
                     "bounds the cell to a constant (often a map-side "
                     "WindowGroupLimit)",
        "domain": "cell elements come from a bounded key domain "
                  "(enums, calendar buckets, k centroids)",
        "cap-guard": "an enforced cap (hub_cap degree pre-filter, "
                     "posting caps) bounds the cell; the cap path is "
                     "documented",
        "cluster": "one duplicate cluster's member ids: output is "
                   "cluster-linear; a whole-corpus-identical cell is "
                   "the documented degenerate-corpus caveat of the "
                   "dedup caps",
        "exact-mode": "the operator's documented exact configuration "
                      "(hub_cap=None) necessarily materializes true "
                      "cells; the capped path is the at-scale one",
    },
}
CLASSES["crossjoin"] = {
    c: CLASSES["broadcast"][c]
    for c in ("scalar", "dimension", "calendar", "contract")
}

_KIND = {
    "broadcast": "broadcast",
    "collect_list": "collect",
    "collect_set": "collect",
    "crossJoin": "crossjoin",
}


@dataclass(frozen=True)
class Site:
    kind: str  # "broadcast" | "collect" | "crossjoin"
    path: str  # package-relative, e.g. "operators/topk.py"
    func: str  # enclosing function name, "<module>" at module level
    arg: str  # ast.unparse of the call's first argument
    lineno: int


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def scan_sites() -> list[Site]:
    """Every call in the package whose callee (``f(...)`` or
    ``x.f(...)``) names a site kind and has a positional argument, in
    file walk order."""
    sites: list[Site] = []
    for dirpath, _, files in sorted(os.walk(_PKG_ROOT)):
        if "__pycache__" in dirpath:
            continue
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, _PKG_ROOT)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            stack: list[str] = []

            class _V(ast.NodeVisitor):
                def visit_FunctionDef(self, n):  # noqa: N802
                    stack.append(n.name)
                    self.generic_visit(n)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, n):  # noqa: N802
                    kind = _KIND.get(_callee(n))
                    if kind and n.args:
                        sites.append(
                            Site(
                                kind,
                                rel,
                                stack[-1] if stack else "<module>",
                                ast.unparse(n.args[0]),
                                n.lineno,
                            )
                        )
                    self.generic_visit(n)

            _V().visit(tree)
    return sites


def _broadcast_frame(arg: str) -> str | None:
    """``x`` when ``arg`` is ``F.broadcast(x)``, else None."""
    node = ast.parse(arg, mode="eval").body
    if isinstance(node, ast.Call) and _callee(node) == "broadcast":
        return ast.unparse(node.args[0]) if node.args else None
    return None


# --- adjudications ----------------------------------------------------------

# (kind, path, func, arg) -> (class, reason). One entry covers every
# occurrence of the same expression in the same function (e.g. the two
# tfidf `ndocs` joins).
ALLOWLIST: dict[tuple[str, str, str, str], tuple[str, str]] = {}


def allow(kind: str, path: str, func: str, arg: str, cls: str,
          reason: str) -> None:
    key = (kind, path, func, arg)
    if key in ALLOWLIST:
        raise ValueError(f"duplicate adjudication: {key}")
    if kind == "crossjoin" and _broadcast_frame(arg) is not None:
        raise ValueError(
            f"{key}: a cross join over a broadcast frame takes the "
            "class of that frame's broadcast entry"
        )
    ALLOWLIST[key] = (cls, reason)


def classify(
    sites: list[Site] | None = None,
) -> tuple[list[tuple[Site, str, str]], list[Site], list[tuple]]:
    """Returns (adjudicated (site, class, reason) triples,
    unadjudicated sites, allowlist keys that matched no site). A site
    is adjudicated by an entry whose class is in its kind's
    vocabulary; a ``crossJoin(F.broadcast(x))`` site by the broadcast
    entry for ``x`` in the same function."""
    sites = scan_sites() if sites is None else sites
    seen = set()
    adjudicated, unknown = [], []
    for s in sites:
        x = _broadcast_frame(s.arg) if s.kind == "crossjoin" else None
        key = (
            (s.kind, s.path, s.func, s.arg)
            if x is None
            else ("broadcast", s.path, s.func, x)
        )
        hit = ALLOWLIST.get(key)
        if hit is None or hit[0] not in CLASSES[s.kind]:
            unknown.append(s)
        else:
            seen.add(key)
            adjudicated.append((s, hit[0], hit[1]))
    stale = [k for k in ALLOWLIST if k not in seen]
    return adjudicated, unknown, stale


def render_inventory(
    adjudicated: list[tuple[Site, str, str]],
    unknown: list[Site],
    stale: list[tuple],
) -> str:
    """CALL_SITE_AUDIT.md for one `classify()` result: the vocabulary,
    one row per adjudicated site by (path, function, argument, kind),
    then any unadjudicated sites and stale entries."""
    hist = Counter(f"{s.kind}:{cls}" for s, cls, _ in adjudicated)
    lines = [
        "# Call-site audit (generated by scripts/call_site_audit.py)",
        "",
        "Every `F.broadcast(...)`, `collect_list` / `collect_set` and "
        "`crossJoin(...)` call site in the package, with its size "
        "class and a written boundedness reason. "
        "plans/call_site_audit.py holds the adjudications; "
        "tests/test_broadcast_audit.py and tests/test_cell_audit.py "
        "are the gates.",
        "",
        "**broadcast** — the SIZE PROVENANCE of the hinted frame:",
        "",
    ]
    lines += [f"- **{c}** — {d}" for c, d in CLASSES["broadcast"].items()]
    lines += [
        "",
        "**collect** — what bounds the ONE array cell a group lands in "
        "(an unbounded group is an OOM):",
        "",
    ]
    lines += [f"- **{c}** — {d}" for c, d in CLASSES["collect"].items()]
    lines += [
        "",
        "**crossjoin** — the smaller side of |left| x |right|: "
        + " / ".join(CLASSES["crossjoin"])
        + ". A `crossJoin(F.broadcast(x))` takes the class and reason "
        "of the broadcast entry for `x` in the same function; any "
        "other broadcast class leaves it unadjudicated.",
        "",
        "Hints and cell shapes that earlier audits removed or fixed "
        "(fact-scaled broadcast sides, post-collect slicing) are "
        "pinned by test_removed_hints_stay_removed and "
        "test_fixed_shapes_stay_fixed.",
        "",
        f"**{len(adjudicated)} sites adjudicated, "
        f"{len(unknown)} unadjudicated, {len(stale)} stale entries.** "
        "Histogram: "
        + ", ".join(f"{k}={v}" for k, v in sorted(hist.items())),
        "",
        "| kind | file | function | argument | class | boundedness |",
        "|---|---|---|---|---|---|",
    ]
    for s, cls, reason in sorted(
        adjudicated, key=lambda t: (t[0].path, t[0].func, t[0].arg, t[0].kind)
    ):
        arg = s.arg if len(s.arg) <= 60 else s.arg[:57] + "..."
        arg, reason = arg.replace("|", "\\|"), reason.replace("|", "\\|")
        lines.append(
            f"| {s.kind} | {s.path} | {s.func} | `{arg}` | {cls} | {reason} |"
        )
    if unknown:
        lines += ["", "## UNADJUDICATED", ""]
        lines += [
            f"- {s.kind} {s.path}:{s.lineno} {s.func} `{s.arg[:80]}`"
            for s in unknown
        ]
    if stale:
        lines += ["", "## STALE ENTRIES", ""]
        lines += [f"- {k}" for k in stale]
    return "\n".join(lines) + "\n"


# === broadcast frames ========================================================

# --- scalar: one-row aggregates / solver outputs ---------------------------

_SC = "one-row aggregate frame (scalar)"
allow("broadcast", "operators/bpe.py", "_merge", "best", "scalar",
      "argmax pair of one merge iteration: orderBy().limit(1) frame")
allow("broadcast", "operators/encoding.py", "target_encode_oof", "gmean",
      "scalar", _SC)
allow("broadcast", "operators/lm.py", "bigram_lm_scores", "vocab", "scalar",
      "vocabulary SIZE as a 1-row aggregate (not the vocabulary)")
allow("broadcast", "operators/lm.py", "dsir_importance_weights", "totals",
      "scalar", _SC)
allow("broadcast", "plans/fixtures_analytics.py", "events_mad_outliers", "med",
      "dimension", "per-event-type medians: <= |event types| rows")
allow("broadcast", "plans/fixtures_analytics.py", "events_mad_outliers", "dev",
      "dimension", "per-event-type MADs: <= |event types| rows")
allow("broadcast", "plans/fixtures_analytics.py", "skew_heavy_hitter_keys",
      "total", "scalar", _SC)
allow("broadcast", "plans/fixtures_analytics.py", "orders_rfm_segmentation",
      "today", "scalar", "reference-date max as one row")
allow("broadcast", "plans/fixtures_analytics.py", "dq_benford_first_digit",
      "t", "scalar", _SC)
allow("broadcast", "plans/fixtures_analytics.py", "approx_percentile_check",
      "agg", "dimension",
      "per-event-type percentile targets: <= |event types| rows")
allow("broadcast", "plans/fixtures_behavior.py", "parts_copurchase_lift", "n",
      "scalar", _SC)
allow("broadcast", "plans/fixtures_behavior.py", "parts_copurchase_npmi", "n",
      "scalar", _SC)
allow("broadcast", "plans/fixtures_behavior.py", "events_decayed_activity",
      "ref", "scalar", "decay reference timestamp as one row")
allow("broadcast", "plans/fixtures_corpus_model.py",
      "docs_contrastive_triplets", "n", "scalar", _SC)
allow("broadcast", "plans/fixtures_corpus_model.py",
      "corpus_stopword_discovery", "n", "scalar", _SC)
allow("broadcast", "plans/fixtures_extensions.py", "docs_source_drift_chi2",
      "t", "scalar", "chi-square column totals: one row")
allow("broadcast", "plans/fixtures_parity.py", "x1_zipf_loglog_fit", "fit",
      "scalar", "log-log regression coefficients: one row")
allow("broadcast", "plans/fixtures_scale_patterns.py",
      "lineitem_join_size_estimate", "x", "scalar",
      "exact pair count for the error report: one row")
allow("broadcast", "plans/fixtures_statistics.py",
      "orders_repeat_kaplan_meier", "dmax", "scalar",
      "max follow-up duration: one row")
allow("broadcast", "plans/fixtures_statistics.py",
      "nation_budget_largest_remainder", "tot", "scalar", _SC)
allow("broadcast", "plans/fixtures_timeseries.py", "events_winsorized_stats",
      "n_per", "dimension", "per-event-type counts: <= |event types| rows")
allow("broadcast", "plans/fixtures_timeseries.py", "events_winsorized_stats",
      "b", "dimension",
      "per-event-type winsor boundaries: <= |event types| rows")
allow("broadcast", "plans/fixtures_timeseries.py", "events_cusum_changepoints",
      "stats", "dimension", "per-event-type mean/std: <= |event types| rows")
allow("broadcast", "plans/fixtures_tpch_extra.py",
      "tpch_q22_dormant_rich_customers", "avg_bal", "scalar", _SC)
allow("broadcast", "plans/fixtures_tpch_wave2.py", "tpch_q15_top_supplier",
      "max_rev", "scalar", _SC)
allow("broadcast", "plans/fixtures_tpch_wave3.py", "tpch_q11_important_parts",
      "threshold", "scalar", "part-value cutoff: one row")
allow("broadcast", "plans/fixtures_training_prep.py", "docs_lang_rebalance",
      "min_count", "scalar", _SC)
allow("broadcast", "plans/fixtures_training_prep.py",
      "docs_temperature_resample", "kmin", "scalar", _SC)
allow("broadcast", "plans/fixtures_training_prep.py", "corpus_vocab_coverage",
      "total", "scalar", _SC)
allow("broadcast", "plans/fixtures_training_prep.py", "events_value_woe_iv",
      "tot", "scalar", _SC)
allow("broadcast", "plans/fixtures_training_prep.py", "corpus_mixing_weights",
      "sol", "scalar", "water-filling solution (k*, R*): one row")

# --- dimension: bounded key domains -----------------------------------------

_NATION = "nation/region dimension: <= 25 rows at any scale"
allow("broadcast", "plans/fixtures_statistics.py",
      "nation_budget_largest_remainder", "nation", "dimension", _NATION)
allow("broadcast", "plans/fixtures_statistics.py", "supplier_pareto_coverage",
      "nation", "dimension", _NATION)
allow("broadcast", "plans/fixtures_statistics.py", "supplier_pareto_coverage",
      "nat", "dimension", "per-nation Pareto aggregates: <= 25 rows")
allow("broadcast", "plans/fixtures_streaming.py", "plan", "nation",
      "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_extra.py",
      "tpch_q5_local_supplier_revenue",
      "load_table(spark, sf_dir, 'region').filter(F.col('r_name') == 'ASIA')",
      "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_extra.py",
      "tpch_q5_local_supplier_revenue", "asia_nations", "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_extra.py",
      "tpch_q10_returned_item_report", "nation", "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_wave2.py", "tpch_q7_volume_shipping",
      "n1", "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_wave2.py", "tpch_q7_volume_shipping",
      "n2", "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_wave2.py",
      "tpch_q8_national_market_share",
      "load_table(spark, sf_dir, 'nation').join(F.broadcast(load_table("
      "spark, sf_dir, 'region').filter(F.col('r_name') == 'EUROPE')), "
      "F.col('n_regionkey') == F.col('r_regionkey'))", "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_wave2.py",
      "tpch_q8_national_market_share",
      "load_table(spark, sf_dir, 'region').filter(F.col('r_name') == "
      "'EUROPE')", "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_wave2.py",
      "tpch_q8_national_market_share",
      "load_table(spark, sf_dir, 'nation').select(F.col('n_nationkey')"
      ".alias('sn_key'), F.col('n_name').alias('supp_nation'))", "dimension",
      _NATION)
allow("broadcast", "plans/fixtures_tpch_wave2.py",
      "tpch_q9_part_pattern_revenue", "load_table(spark, sf_dir, 'nation')",
      "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_wave3.py", "tpch_q2_min_cost_supplier",
      "load_table(spark, sf_dir, 'nation').join(F.broadcast(load_table("
      "spark, sf_dir, 'region').filter(F.col('r_name') == 'EUROPE')), "
      "F.col('n_regionkey') == F.col('r_regionkey'))", "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_wave3.py", "tpch_q2_min_cost_supplier",
      "load_table(spark, sf_dir, 'region').filter(F.col('r_name') == "
      "'EUROPE')", "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_wave3.py", "tpch_q11_important_parts",
      "load_table(spark, sf_dir, 'nation').join(F.broadcast(load_table("
      "spark, sf_dir, 'region').filter(F.col('r_name') == 'EUROPE')), "
      "F.col('n_regionkey') == F.col('r_regionkey'))", "dimension", _NATION)
allow("broadcast", "plans/fixtures_tpch_wave3.py", "tpch_q11_important_parts",
      "load_table(spark, sf_dir, 'region').filter(F.col('r_name') == "
      "'EUROPE')", "dimension", _NATION)
allow("broadcast", "operators/encoding.py", "target_encode_oof", "per_c",
      "contract",
      "per-category sufficient statistics; target encoding's "
      "documented contract is a bounded categorical domain "
      "(docstring: 'the table is |categories| x |folds| rows')")
allow("broadcast", "operators/generators.py", "permutation_triplets", "b",
      "dimension",
      "airport-code dimension (reference README.md:465 constraint "
      "grid): the 3-way cross join is over codes, never facts")
allow("broadcast", "operators/generators.py", "permutation_triplets", "c",
      "dimension", "airport-code dimension (same grid, third leg)")
allow("broadcast", "operators/lm.py", "dsir_importance_weights", "ratio",
      "dimension",
      "per-hashed-feature log-ratios: rows = the fixed hash-bucket "
      "count (operator param), not the corpus")
allow("broadcast", "plans/fixtures_analytics.py", "orders_window_rank_profile",
      "ranked.filter(F.col('__rk') == 2).select(F.col('priority')"
      ".alias('__p2'), F.col('price').alias('__second'))", "dimension",
      "second-ranked row per priority: <= 5 rows")
allow("broadcast", "plans/fixtures_analytics.py",
      "orders_pct_of_parent_rollup", "n", "dimension",
      "per-nation rollup slice: <= 25 rows")
allow("broadcast", "plans/fixtures_analytics.py",
      "orders_pct_of_parent_rollup", "r", "dimension",
      "per-region rollup slice: <= 5 rows")
allow("broadcast", "plans/fixtures_training_prep.py",
      "docs_temperature_resample", "rates", "dimension",
      "per-language resample rates: 5 rows")
allow("broadcast", "plans/fixtures_training_prep.py",
      "corpus_token_budget_select", "buckets", "dimension",
      "quality-bucket boundaries: rows = bucket-domain size")
allow("broadcast", "operators/similarity.py", "assign_to_centroids", "c",
      "dimension", "centroid table: k rows (operator param)")
allow("broadcast", "operators/similarity.py", "ivf_topk", "c", "dimension",
      "IVF cell centroids: nlist rows (operator param)")

# --- calendar: time spines and lag grids ------------------------------------

_CAL = "calendar spine: bounded by the data's time span"
allow("broadcast", "plans/airline.py", "requests", "dates", "calendar", _CAL)
allow("broadcast", "plans/fixtures_parity.py", "j4_region_date_series",
      "dates", "calendar", _CAL)
allow("broadcast", "plans/fixtures_product_analytics.py",
      "events_rolling_7d_active_users", "days", "calendar", _CAL)
allow("broadcast", "plans/fixtures_product_analytics.py",
      "events_bitmap_retention", "offsets", "calendar",
      "day-offset grid: <= retention horizon")
allow("broadcast", "plans/fixtures_scale_patterns.py",
      "events_dpp_weekend_scan", "cal", "calendar",
      _CAL + " (the DPP build side)")
allow("broadcast", "plans/fixtures_timeseries.py", "events_hourly_acf", "lags",
      "calendar", "lag grid: 6 rows")
allow("broadcast", "plans/fixtures_timeseries.py", "events_hourly_acf", "b",
      "calendar", "hourly series self-join side: <= span-hours rows per type")
allow("broadcast", "plans/fixtures_timeseries.py", "events_cusum_changepoints",
      "grid", "calendar", _CAL)
allow("broadcast", "plans/fixtures_timeseries.py", "events_xcorr_lead_lag",
      "grid", "calendar", _CAL)
allow("broadcast", "plans/fixtures_timeseries.py", "events_xcorr_lead_lag",
      "lags", "calendar", "lag grid: constant row count")
allow("broadcast", "plans/fixtures_timeseries.py", "events_theilsen_trend",
      "grid", "calendar", _CAL)
allow("broadcast", "operators/timeseries.py", "resample_ffill",
      "time_spine(df)", "calendar", _CAL)

# --- offset: two-pass range-partition offset tables -------------------------

_OFF = ("per-range-partition offset table: rows = shuffle partition "
        "count of the pass-1 sort, not the data")
allow("broadcast", "operators/topk.py", "ordered_prefix_distributed",
      "df.sparkSession.createDataFrame(out_rows, T.StructType(fields))",
      "offset", _OFF)

# --- sketch-state: fixed-size sketch / codebook frames ----------------------

allow("broadcast", "plans/fixtures_resolution.py",
      "orders_bloom_semijoin_reduction",
      "words.select(F.col('w').alias(wcol), F.col('word').alias(wordcol))",
      "sketch-state", "bloom filter words: _BLOOM_BITS/64 rows, constant")
allow("broadcast", "plans/fixtures_scale_patterns.py",
      "events_countmin_heavy_hitters", "cms", "sketch-state",
      "count-min table: w x d cells, constant")
allow("broadcast", "operators/similarity.py", "ivf_topk", "probe_cells",
      "sketch-state",
      "probed cell ids: <= nprobe per probe over the nlist domain")
allow("broadcast", "operators/similarity.py", "pq_adc_topk", "codebook",
      "sketch-state", "PQ codebook: m x 256 rows, constant")
allow("broadcast", "operators/similarity.py", "pq_adc_topk", "dtable",
      "sketch-state",
      "ADC distance table: |queries| x m x 256 — queries are the "
      "documented small probe side (see brute_force_topk contract)")

# --- node-table: graph node frames with the documented shuffle knob ---------

_NODE = ("graph node frame: node cardinality << edges; the operator "
         "documents the broadcast->shuffle knob for billion-node "
         "graphs inline")
allow("broadcast", "operators/graph.py", "pagerank", "ranks", "node-table",
      _NODE)
allow("broadcast", "operators/graph.py", "bfs_hops", "block", "node-table",
      "BFS frontier block: <= nodes, delta-maintained")
allow("broadcast", "operators/graph.py", "bfs_hops", "frontier", "node-table",
      "BFS frontier of one round: <= nodes; forced because the "
      "checkpointed frontier has no size stats and the round's "
      "shuffle count is clamped to the frontier (r11, ADVICE r10)")
allow("broadcast", "operators/graph.py", "_kcore_peel_rounds", "dropped",
      "node-table", "newly-dropped node set of one peel round, delta-sized")
allow("broadcast", "operators/graph.py", "_kcore_peel_rounds", "contrib",
      "node-table", "degree corrections into the dropped set, delta-sized")
allow("broadcast", "operators/graph.py", "_kcore_peel_rounds", "keep",
      "node-table", _NODE)
allow("broadcast", "operators/graph.py", "_kcore_peel_rounds",
      "keep.withColumnRenamed('__keep', '__keep2')", "node-table", _NODE)
allow("broadcast", "plans/fixtures_graph.py", "parts_copurchase_kcore",
      "probe_keep", "node-table", _NODE)
allow("broadcast", "plans/fixtures_graph.py", "parts_copurchase_kcore",
      "probe_keep.withColumnRenamed('__k', '__k2')", "node-table", _NODE)

# --- cap-guard: frames bounded by an enforced cap ----------------------------

_CAP = ("hot-bucket/token list bounded by the documented posting cap; "
        "the cap path fails loudly on degenerate corpora")
allow("broadcast", "operators/dedup.py", "ngram_jaccard_pairs", "hot",
      "cap-guard", _CAP)
allow("broadcast", "operators/dedup.py", "containment_pairs", "hot",
      "cap-guard", _CAP)
allow("broadcast", "operators/dedup.py", "_lsh_candidates", "big", "cap-guard",
      _CAP)
allow("broadcast", "operators/dedup.py", "_simhash_rep_edges", "big",
      "cap-guard", _CAP)

# --- contract: documented low-cardinality / small-side input contracts ------

allow("broadcast", "operators/sketches.py", "kmv_set_overlap_per_key_pair",
      "keys.select(F.col('__ty').alias('__tb'))", "contract",
      "pairwise overlap is |keys|^2 by construction; the docstring "
      "scopes the operator to low-cardinality dimensions")
allow("broadcast", "operators/sketches.py", "kmv_set_overlap_per_key_pair",
      "sizes.select(F.col('__ty').alias('__ta'), F.col('__n')"
      ".alias('__na'))", "contract",
      "per-key sizes under the same "
      "documented low-cardinality contract")
allow("broadcast", "operators/sketches.py", "kmv_set_overlap_per_key_pair",
      "sizes.select(F.col('__ty').alias('__tb'), F.col('__n')"
      ".alias('__nb'))", "contract",
      "per-key sizes under the same "
      "documented low-cardinality contract")
allow("broadcast", "operators/similarity.py", "brute_force_topk", "p",
      "contract",
      "probe set: the docstring scopes exhaustive scoring to "
      "probes << corpus (the recall-eval baseline)")

# --- pattern-pinned ----------------------------------------------------------

allow("broadcast", "plans/fixtures_analytics.py", "broadcast_brand_revenue",
      "part", "pattern-pinned",
      "the query IS the explicit broadcast-hash pattern demo: "
      "tests/test_plan_shapes.py pins BroadcastHashJoin; its "
      "documented contract is a broadcastable dim side")

# --- scalar sites inside text.py ---------------------------------------------

allow("broadcast", "operators/text.py", "tfidf_top_terms", "ndocs", "scalar",
      _SC)
allow("broadcast", "operators/text.py", "tfidf_cosine_pairs", "ndocs",
      "scalar", _SC)

# === collect cells ===========================================================

allow("collect", "operators/dedup.py", "_collapse_identical", "'doc_id'",
      "cluster",
      "members of one identical-content group (md5 of the canonical "
      "serialization); output is cluster-linear and the degenerate "
      "whole-corpus-identical cell is the documented caveat of the "
      "dedup caps")
allow("collect", "operators/dedup.py", "block_dedup_keep_first",
      "F.struct('idx', 'block')", "entity",
      "one document's kept blocks, bounded by document length")
allow("collect", "operators/graph.py", "adamic_adar_scores", "'dst'",
      "cap-guard",
      "with hub_cap set, a degree pre-filter (partial-agg count + "
      "semi join) drops hubs BEFORE the collect, so every cell holds "
      "<= hub_cap neighbors (r10 fix — the old shape collected the "
      "full hub adjacency first); hub_cap=None is the documented "
      "exact-mode exception (exact-mode class)")
allow("collect", "operators/similarity.py", "kmeans_fit",
      "F.struct('pos', 'm')", "k-bounded",
      "k centroid partials per reduce cell: k x dim doubles, "
      "operator parameter")
allow("collect", "operators/text.py", "winnowing_overlap_pairs",
      "'khash'", "entity",
      "one document's winnowing fingerprints: bounded by document "
      "length / window parameter")
allow("collect", "operators/text.py", "tfidf_cosine_pairs",
      "F.concat_ws(':', 'term', 'tf')", "entity",
      "one document's (term, tf) pairs: bounded by document length")
allow("collect", "operators/text.py", "tfidf_cosine_pairs", "'doc_id'",
      "cluster",
      "members of one identical-tf-vector group (the identical-set "
      "collapse): cluster-linear, same caveat as "
      "dedup._collapse_identical")
allow("collect", "operators/text.py", "duplicate_span_removal",
      "F.struct('s', 'e')", "entity",
      "one document's duplicate spans, bounded by document length")
allow("collect", "plans/fixtures_behavior.py", "parts_copurchase_lift",
      "'l_partkey'", "entity",
      "one order's basket: lineitem fans out <= 7 parts per order")
allow("collect", "plans/fixtures_behavior.py", "parts_itemitem_cf_topk",
      "'l_partkey'", "entity",
      "one customer's part basket: bounded by orders-per-customer x "
      "lines-per-order (TPC-H fan-out)")
allow("collect", "plans/fixtures_behavior.py", "parts_copurchase_npmi",
      "'l_partkey'", "entity",
      "one order's basket: <= 7 parts per order")
allow("collect", "plans/fixtures_graph.py", "_copurchase_edges",
      "'l_partkey'", "entity",
      "one customer-basket's parts (the co-purchase basket bound the "
      "whole graph family documents)")
allow("collect", "plans/fixtures_graph.py",
      "parts_copurchase_triple_itemsets", "'p'", "entity",
      "one customer-basket's part set, fan-out-bounded")
allow("collect", "plans/fixtures_graph.py",
      "parts_copurchase_triple_itemsets", "'b'", "entity",
      "one (basket, a) partner list: subset of that basket's "
      "pair-surviving parts")
allow("collect", "plans/fixtures_timeseries.py", "docs_inverted_index",
      "'doc_id'", "k-bounded",
      "posting SAMPLE cell: a literal rn <= 100 rank filter bounds "
      "the collect map-side via WindowGroupLimit (r10 fix — the old "
      "shape collected the full corpus-scaled posting set and sliced "
      "after); doc_freq rides a separate cell-free partial count")

# === cross joins over frames that are not broadcast ==========================

allow("crossjoin", "plans/fixtures_timeseries.py", "events_xcorr_lead_lag",
      "ks.select(F.col('k').alias('kb'))", "dimension",
      "event-type x event-type pair grid: <= |types|^2 rows")
