"""Mechanical aggregate-cell / cross-join gate (the hazard classes the
r9 and r10 handoffs queued after windows and broadcasts): every
collect_list/collect_set site needs a written CELL-boundedness
adjudication and every crossJoin a size class for its small side, in
plans/cell_audit.py. Unadjudicated sites and stale entries both fail,
so the table tracks the code exactly. Pure AST analysis."""

from __future__ import annotations

from airline_dataset_hadoop_public_spark.plans.cell_audit import (
    ALLOWLIST,
    classify,
    scan_sites,
)

_CELL_CLASSES = {
    "entity", "k-bounded", "domain", "cap-guard", "cluster", "exact-mode",
}
_XJOIN_CLASSES = {"scalar", "dimension", "calendar", "contract"}


def test_every_cell_site_is_adjudicated():
    _, unknown, _ = classify()
    assert not unknown, (
        "UNADJUDICATED collect/crossJoin sites (add a boundedness "
        "entry to plans/cell_audit.py, or restructure — bound the "
        "cell BEFORE the collect, as docs_inverted_index and "
        "adamic_adar_scores were in r10):\n"
        + "\n".join(
            f"  {s.kind} {s.path}:{s.lineno} {s.func} {s.arg[:70]}"
            for s in unknown
        )
    )


def test_no_stale_cell_adjudications():
    _, _, stale = classify()
    assert not stale, (
        "stale cell adjudications (site changed or removed — delete "
        "the entry):\n" + "\n".join(f"  {k}" for k in stale)
    )


def test_classes_are_known_per_kind():
    bad = {}
    for (kind, *_k), (cls, _r) in ALLOWLIST.items():
        ok = _CELL_CLASSES if kind == "collect" else _XJOIN_CLASSES
        if cls not in ok:
            bad[(kind, *_k)] = cls
    assert not bad, f"unknown classes: {bad}"


def test_every_adjudication_has_a_written_reason():
    thin = {k: v for k, v in ALLOWLIST.items() if len(v[1]) < 10}
    assert not thin, f"reasons too thin to audit: {thin}"


def test_scanner_sees_the_package():
    sites = scan_sites()
    assert len(sites) >= 40, f"scanner found only {len(sites)} sites"


def test_fixed_shapes_stay_fixed():
    """The two r10 cell fixes must not regress to post-collect
    bounding: no slice-after-collect in docs_inverted_index, and
    adamic_adar must not size-filter AFTER collecting (the degree
    pre-filter is the contract)."""
    import inspect

    from airline_dataset_hadoop_public_spark.operators.graph import (
        adamic_adar_scores,
    )
    from airline_dataset_hadoop_public_spark.plans.fixtures_timeseries import (
        docs_inverted_index,
    )

    inv_src = inspect.getsource(docs_inverted_index)
    assert "F.slice" not in inv_src
    assert "row_number" in inv_src  # the group-limit prefilter

    aa_src = inspect.getsource(adamic_adar_scores)
    # the cap must appear as a degree pre-filter before the collect,
    # not as a size(ns) filter of collected cells
    assert "left_semi" in aa_src
    assert 'F.size("ns") <= hub_cap' not in aa_src
