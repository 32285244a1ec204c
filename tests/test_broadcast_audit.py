"""Mechanical broadcast-hint gate (r9 verdict item 4), modeled on
test_window_audit.py: every `F.broadcast(...)` site in the package
must carry a size-provenance adjudication in
plans/call_site_audit.py, and every adjudication must still match a
site. A new data-scaled hint therefore cannot land unclassified, and
the allowlist cannot rot. Pure AST analysis — no SparkSession."""

from __future__ import annotations

from airline_dataset_hadoop_public_spark.plans.call_site_audit import (
    ALLOWLIST,
    CLASSES,
    classify,
    scan_sites,
)


def _broadcast_sites():
    return [s for s in scan_sites() if s.kind == "broadcast"]


def test_every_broadcast_site_is_adjudicated():
    _, unknown, _ = classify(_broadcast_sites())
    assert not unknown, (
        "UNADJUDICATED F.broadcast sites (add a size-provenance entry "
        "to plans/call_site_audit.py, or drop the hint and let AQE "
        "decide):\n"
        + "\n".join(f"  {s.path}:{s.lineno} {s.func} {s.arg[:80]}"
                    for s in unknown)
    )


def test_no_stale_adjudications():
    _, _, stale = classify(_broadcast_sites())
    stale = [k for k in stale if k[0] == "broadcast"]
    assert not stale, (
        "stale broadcast adjudications (the site changed or the hint "
        "was removed — delete the entry):\n"
        + "\n".join(f"  {k}" for k in stale)
    )


def test_every_adjudication_uses_a_known_class():
    bad = {
        k: v for k, v in ALLOWLIST.items()
        if k[0] == "broadcast" and v[0] not in CLASSES["broadcast"]
    }
    assert not bad, f"unknown provenance classes: {bad}"


def test_every_adjudication_has_a_written_reason():
    thin = {
        k: v for k, v in ALLOWLIST.items()
        if k[0] == "broadcast" and len(v[1]) < 10
    }
    assert not thin, f"reasons too thin to audit: {thin}"


def test_scanner_sees_the_package():
    # guard against a silent scan-root regression: the repo keeps a
    # known, non-trivial number of adjudicated hints
    sites = _broadcast_sites()
    assert len(sites) >= 50, f"scanner found only {len(sites)} sites"


def test_removed_hints_stay_removed():
    """The specific fact-scaled hints the r9/r10 audits removed must
    not silently return: no site may broadcast these frames again."""
    banned = {
        ("operators/sketches.py", "kmv_distinct_per_key"),
        ("operators/sketches.py", "ddsketch_quantiles"),
        ("operators/topk.py", "ntile_distributed"),
        ("plans/fixtures_training_prep.py", "docs_decontaminate"),
        ("plans/fixtures_parity.py", "g2q1_top10_customers_per_segment"),
        ("plans/fixtures_parity.py", "g2q2_top10_parts_per_brand"),
        ("plans/fixtures_extensions.py", "serving_point_read"),
    }
    hits = [
        s for s in _broadcast_sites() if (s.path, s.func) in banned
    ]
    assert not hits, f"removed hints returned: {hits}"


def test_committed_inventories_match_the_scripts(tmp_path):
    """CALL_SITE_AUDIT.md is what scripts/call_site_audit.py writes
    today, and the script exits 0. Rows name sites by (kind, path,
    function, argument) with no line number, so only an added, removed
    or re-adjudicated site changes it."""
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    out = tmp_path / "CALL_SITE_AUDIT.md"
    subprocess.run(
        [sys.executable, str(repo / "scripts" / "call_site_audit.py"),
         str(out)],
        check=True,
        capture_output=True,
    )
    committed = repo / "CALL_SITE_AUDIT.md"
    assert out.read_text() == committed.read_text(), (
        "CALL_SITE_AUDIT.md is stale: run python scripts/call_site_audit.py"
    )
