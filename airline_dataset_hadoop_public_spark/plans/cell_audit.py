"""Aggregate-cell and cross-join audit (the r10→r11 hazard classes
named in BASELINE.md's handoffs, made mechanical like the window and
broadcast gates).

Two source-level hazard families, one gate:

- **collect cells** — every `F.collect_list` / `F.collect_set` call:
  the whole group lands in ONE array cell of ONE row, so an unbounded
  group is a straight OOM at 100 TB (a 10^8-member posting list or
  hub adjacency does not fit in a cell). A site passes only with a
  written boundedness class: what bounds the CELL, not the group
  count.
- **cross joins** — every `.crossJoin(...)` call: output cardinality
  is |left| x |right|, so the audit requires a written size class for
  the SMALLER side (by construction one side is a scalar/dimension
  frame in every legitimate use; a fact x fact cross join has no
  honest class and must be restructured).

Cell classes:

  * entity     — cell holds one entity's own items (a doc's tokens /
                 spans / kept blocks, a basket's parts): bounded by
                 the entity, which scales in COUNT not size.
  * k-bounded  — an upstream literal rank filter / top-k / slice
                 bounds the cell to a constant (often compiling to a
                 map-side WindowGroupLimit).
  * domain     — cell elements come from a bounded key domain
                 (enums, calendar buckets, k centroids).
  * cap-guard  — an enforced cap (hub_cap degree pre-filter, posting
                 caps) bounds the cell; the cap path is documented.
  * cluster    — one duplicate-cluster's member ids: output is
                 cluster-linear; a whole-corpus-identical cell is the
                 documented degenerate-corpus caveat of the dedup
                 caps.
  * exact-mode — the operator's documented exact configuration
                 (hub_cap=None) necessarily materializes true cells;
                 the capped path is the at-scale configuration.

Cross-join classes reuse the broadcast audit's size-provenance
vocabulary: scalar / dimension / calendar / contract (the side is a
documented small probe/grid).

Keying, gating and staleness semantics are those of
plans/broadcast_audit.py, whose call walker and allowlist matcher this
module reuses: (kind, package-relative path, enclosing function,
unparsed first argument); unadjudicated sites AND stale entries fail
tests/test_cell_audit.py; scripts/cell_audit.py renders
CELL_AUDIT.md.
"""

from __future__ import annotations

from dataclasses import dataclass

from .broadcast_audit import _call_sites, _classify

_KINDS = {"collect_list", "collect_set", "crossJoin"}


@dataclass(frozen=True)
class Site:
    kind: str  # "collect" | "crossjoin"
    path: str
    func: str
    arg: str
    lineno: int


def scan_sites() -> list[Site]:
    return [
        Site(
            "crossjoin" if name == "crossJoin" else "collect",
            rel, func, arg, lineno,
        )
        for name, rel, func, arg, lineno in _call_sites(_KINDS)
    ]


ALLOWLIST: dict[tuple[str, str, str, str], tuple[str, str]] = {}


def allow(kind: str, path: str, func: str, arg: str, cls: str,
          reason: str) -> None:
    key = (kind, path, func, arg)
    if key in ALLOWLIST:
        raise ValueError(f"duplicate cell adjudication: {key}")
    ALLOWLIST[key] = (cls, reason)


def classify(
    sites: list[Site] | None = None,
) -> tuple[list[tuple[Site, str, str]], list[Site], list[tuple]]:
    sites = scan_sites() if sites is None else sites
    return _classify(
        sites, ALLOWLIST, lambda s: (s.kind, s.path, s.func, s.arg)
    )


# --- collect-cell adjudications ---------------------------------------------

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

# --- cross-join adjudications -----------------------------------------------

_B = "1-row broadcast scalar side (also adjudicated in the broadcast audit)"
for path, func, arg in [
    ("operators/bpe.py", "_merge", "F.broadcast(best)"),
    ("operators/encoding.py", "target_encode_oof", "F.broadcast(gmean)"),
    ("operators/lm.py", "bigram_lm_scores", "F.broadcast(vocab)"),
    ("operators/lm.py", "dsir_importance_weights", "F.broadcast(totals)"),
    ("operators/text.py", "tfidf_top_terms", "F.broadcast(ndocs)"),
    ("operators/text.py", "tfidf_cosine_pairs", "F.broadcast(ndocs)"),
    ("plans/fixtures_analytics.py", "skew_heavy_hitter_keys",
     "F.broadcast(total)"),
    ("plans/fixtures_analytics.py", "orders_rfm_segmentation",
     "F.broadcast(today)"),
    ("plans/fixtures_analytics.py", "dq_benford_first_digit",
     "F.broadcast(t)"),
    ("plans/fixtures_behavior.py", "parts_copurchase_lift",
     "F.broadcast(n)"),
    ("plans/fixtures_behavior.py", "events_decayed_activity",
     "F.broadcast(ref)"),
    ("plans/fixtures_behavior.py", "parts_copurchase_npmi",
     "F.broadcast(n)"),
    ("plans/fixtures_corpus_model.py", "docs_contrastive_triplets",
     "F.broadcast(n)"),
    ("plans/fixtures_corpus_model.py", "corpus_stopword_discovery",
     "F.broadcast(n)"),
    ("plans/fixtures_extensions.py", "docs_source_drift_chi2",
     "F.broadcast(t)"),
    ("plans/fixtures_parity.py", "x1_zipf_loglog_fit", "F.broadcast(fit)"),
    ("plans/fixtures_scale_patterns.py", "lineitem_join_size_estimate",
     "F.broadcast(x)"),
    ("plans/fixtures_statistics.py", "orders_repeat_kaplan_meier",
     "F.broadcast(dmax)"),
    ("plans/fixtures_statistics.py", "nation_budget_largest_remainder",
     "F.broadcast(tot)"),
    ("plans/fixtures_tpch_extra.py", "tpch_q22_dormant_rich_customers",
     "F.broadcast(avg_bal)"),
    ("plans/fixtures_tpch_wave2.py", "tpch_q15_top_supplier",
     "F.broadcast(max_rev)"),
    ("plans/fixtures_tpch_wave3.py", "tpch_q11_important_parts",
     "F.broadcast(threshold)"),
    ("plans/fixtures_training_prep.py", "docs_lang_rebalance",
     "F.broadcast(min_count)"),
    ("plans/fixtures_training_prep.py", "docs_temperature_resample",
     "F.broadcast(kmin)"),
    ("plans/fixtures_training_prep.py", "corpus_vocab_coverage",
     "F.broadcast(total)"),
]:
    allow("crossjoin", path, func, arg, "scalar", _B)

allow("crossjoin", "operators/generators.py", "permutation_triplets",
      "F.broadcast(b)", "dimension",
      "airport-code dimension leg of the reference's 3-way grid")
allow("crossjoin", "operators/generators.py", "permutation_triplets",
      "F.broadcast(c)", "dimension",
      "airport-code dimension leg of the reference's 3-way grid")
allow("crossjoin", "operators/similarity.py", "brute_force_topk",
      "F.broadcast(p)", "contract",
      "probe set: the docstring scopes exhaustive scoring to "
      "probes << corpus")
allow("crossjoin", "operators/similarity.py", "assign_to_centroids",
      "F.broadcast(c)", "dimension",
      "k centroids (operator parameter)")
allow("crossjoin", "operators/similarity.py", "ivf_topk",
      "F.broadcast(c)", "dimension",
      "nlist IVF centroids (operator parameter)")
allow("crossjoin", "operators/timeseries.py", "resample_ffill",
      "F.broadcast(time_spine(df))", "calendar",
      "resample spine: span/step rows")
allow("crossjoin", "plans/airline.py", "requests", "F.broadcast(dates)",
      "calendar", "date spine of the reference's request generator")
allow("crossjoin", "plans/fixtures_parity.py", "j4_region_date_series",
      "F.broadcast(dates)", "calendar", "J4's date-series grid leg")
allow("crossjoin", "plans/fixtures_product_analytics.py",
      "events_bitmap_retention", "F.broadcast(offsets)", "calendar",
      "day-offset grid, retention-horizon rows")
allow("crossjoin", "plans/fixtures_timeseries.py", "events_hourly_acf",
      "F.broadcast(lags)", "calendar", "6-row lag grid")
allow("crossjoin", "plans/fixtures_timeseries.py",
      "events_cusum_changepoints", "F.broadcast(grid)", "calendar",
      "per-type hour spine, span-bounded")
allow("crossjoin", "plans/fixtures_timeseries.py", "events_xcorr_lead_lag",
      "F.broadcast(grid)", "calendar", "hour spine, span-bounded")
allow("crossjoin", "plans/fixtures_timeseries.py", "events_xcorr_lead_lag",
      "ks.select(F.col('k').alias('kb'))", "dimension",
      "event-type x event-type pair grid: <= |types|^2 rows")
allow("crossjoin", "plans/fixtures_timeseries.py", "events_xcorr_lead_lag",
      "F.broadcast(lags)", "calendar", "constant lag grid")
allow("crossjoin", "plans/fixtures_timeseries.py", "events_theilsen_trend",
      "F.broadcast(grid)", "calendar", "hour spine, span-bounded")
