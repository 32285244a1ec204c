"""The automated window-hazard audit as a regression gate (r8 judge
item 4): every `windowspecdefinition` in every registered query's
optimized plan must be __pid-keyed, WindowGroupLimit-bounded,
entity-keyed, or carry a written per-query adjudication — a new
registration with a Gini-class window (low-cardinality partitionBy
over a data-scaled frame) fails here with the offending key set.

Fast parser/classifier unit tests first; the full-registry scan last
(~2-3 min at sf0.001 — plan construction only, eager fixtures pay
their documented construction collects)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Window
from pyspark.sql import functions as F

from airline_dataset_hadoop_public_spark.plans import window_audit as wa

SF = "/root/testdata/sf0.001"


# --- parser ------------------------------------------------------------------


def test_partition_keys_parsed_with_expressions_and_frames():
    plan = (
        "Window [sum(c#5L) windowspecdefinition(__pid#1, k#2, "
        "value#3 ASC NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$())) AS cum#6L], ..."
    )
    assert wa.partition_key_sets(plan) == [frozenset({"__pid", "k"})]


def test_partition_keys_empty_for_global_window():
    plan = (
        "Window [row_number() windowspecdefinition(v#3 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rn#4], ..."
    )
    assert wa.partition_key_sets(plan) == [frozenset()]


def test_partition_keys_handle_nested_expression_keys():
    plan = (
        "windowspecdefinition(CASE WHEN (a#1 = 1) THEN x#2 ELSE y#3 END, "
        "b#4 DESC NULLS LAST, unspecifiedframe$())"
    )
    (keys,) = wa.partition_key_sets(plan)
    assert keys == frozenset({"CASE WHEN (a = 1) THEN x ELSE y END"})


def test_group_limit_key_sets_parsed():
    plan = "WindowGroupLimit [g#1L, h#2], [v#3 ASC NULLS FIRST], row_number(), 5"
    assert wa.group_limit_key_sets(plan) == {frozenset({"g", "h"}): 1}


# --- classifier --------------------------------------------------------------


def test_classifier_precedence_and_failure():
    assert wa.classify("q", frozenset({"__pid", "seg"})).status == "pid"
    assert (
        wa.classify("q", frozenset({"seg"}), {frozenset({"seg"}): 1}).status
        == "group-limit"
    )
    # counted: a second same-keyed window must NOT reuse the voucher
    lim = {frozenset({"seg"}): 1}
    assert wa.classify("q", frozenset({"seg"}), lim).status == "group-limit"
    assert wa.classify("q", frozenset({"seg"}), lim).status == "UNADJUDICATED"
    assert wa.classify("q", frozenset({"user_id", "seg"})).status == "entity"
    bad = wa.classify("unknown_query", frozenset({"seg"}))
    assert bad.status == "UNADJUDICATED"


def test_classifier_uses_query_allowlist():
    f = wa.classify(
        "events_ddsketch_quantiles", frozenset({"__k"})
    )
    assert f.status == "allowlisted"
    assert "error-report" in f.reason or "bounded" in f.reason


def test_live_hazard_is_flagged(spark):
    """End-to-end negative control: a fresh low-card window over a
    fact-scaled frame must come back UNADJUDICATED."""
    df = spark.range(100).select(
        (F.col("id") % 3).alias("seg"), F.col("id").alias("v")
    )
    hazard = df.withColumn(
        "cum",
        F.sum("v").over(
            Window.partitionBy("seg")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    findings = wa.audit_query("brand_new_query", hazard)
    assert [f.status for f in findings] == ["UNADJUDICATED"]


def test_literal_rank_filter_is_blessed_live(spark):
    df = spark.range(100).select(
        (F.col("id") % 3).alias("seg"), F.col("id").alias("v")
    )
    ok = df.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("seg").orderBy("v")),
    ).filter(F.col("rn") <= 5)
    findings = wa.audit_query("brand_new_query", ok)
    assert [f.status for f in findings] == ["group-limit"]


# --- the full-registry gate --------------------------------------------------


def test_every_registered_query_window_is_adjudicated(spark):
    import __spark_entry__ as e
    from airline_dataset_hadoop_public_spark.runtime import release_caches

    qs = e.queries()
    bad: list[str] = []
    stale_allow: set[tuple[str, frozenset]] = {
        (q, adj.keys)
        for q, adjs in wa.QUERY_ALLOWLIST.items()
        for adj in adjs
    }
    findings: list[wa.WindowFinding] = []
    for name in sorted(qs):
        findings += wa.audit_query(name, qs[name](spark, SF))
    for f in findings:
        if f.status == "UNADJUDICATED":
            bad.append(f"{f.query}: [{', '.join(sorted(f.keys))}]")
        stale_allow.discard((f.query, f.keys))
    release_caches()
    assert not bad, (
        "Gini-class window hazard(s) — reshape (literal rank prefilter "
        "/ ordered_prefix_distributed) or adjudicate in "
        "plans/window_audit.py with a boundedness reason:\n  "
        + "\n  ".join(bad)
    )
    # allowlist hygiene: every adjudication must still match a live
    # window, so entries cannot rot into blanket permissions
    assert not stale_allow, (
        f"stale QUERY_ALLOWLIST entries (no matching window): "
        f"{sorted((q, sorted(k)) for q, k in stale_allow)}"
    )
    # the committed inventory is this scan's render
    committed = Path(e.__file__).with_name("WINDOW_AUDIT.md").read_text()
    assert wa.render_inventory(findings, len(qs), [], SF) == committed, (
        "WINDOW_AUDIT.md is stale: rerun python scripts/window_audit.py"
    )
