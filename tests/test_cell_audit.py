"""Mechanical aggregate-cell / cross-join gate (the hazard classes the
r9 and r10 handoffs queued after windows and broadcasts): every
collect_list/collect_set site needs a written CELL-boundedness
adjudication and every crossJoin a size class for its small side, in
plans/call_site_audit.py; a cross join over a broadcast frame takes
that frame's broadcast class. Unadjudicated sites and stale entries
both fail, so the table tracks the code exactly. Pure AST analysis."""

from __future__ import annotations

import pytest

from airline_dataset_hadoop_public_spark.plans.call_site_audit import (
    ALLOWLIST,
    CLASSES,
    Site,
    allow,
    classify,
    scan_sites,
)

_KINDS = ("collect", "crossjoin")


def _cell_sites():
    return [s for s in scan_sites() if s.kind in _KINDS]


def test_every_cell_site_is_adjudicated():
    _, unknown, _ = classify(_cell_sites())
    assert not unknown, (
        "UNADJUDICATED collect/crossJoin sites (add a boundedness "
        "entry to plans/call_site_audit.py, or restructure — bound the "
        "cell BEFORE the collect, as docs_inverted_index and "
        "adamic_adar_scores were in r10):\n"
        + "\n".join(
            f"  {s.kind} {s.path}:{s.lineno} {s.func} {s.arg[:70]}"
            for s in unknown
        )
    )


def test_no_stale_cell_adjudications():
    _, _, stale = classify(_cell_sites())
    stale = [k for k in stale if k[0] in _KINDS]
    assert not stale, (
        "stale cell adjudications (site changed or removed — delete "
        "the entry):\n" + "\n".join(f"  {k}" for k in stale)
    )


def test_classes_are_known_per_kind():
    bad = {}
    for (kind, *_k), (cls, _r) in ALLOWLIST.items():
        if kind in _KINDS and cls not in CLASSES[kind]:
            bad[(kind, *_k)] = cls
    assert not bad, f"unknown classes: {bad}"


def test_every_adjudication_has_a_written_reason():
    thin = {
        k: v for k, v in ALLOWLIST.items()
        if k[0] in _KINDS and len(v[1]) < 10
    }
    assert not thin, f"reasons too thin to audit: {thin}"


def test_scanner_sees_the_package():
    sites = _cell_sites()
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


def _xjoin(path, func, arg):
    return Site("crossjoin", path, func, arg, 1)


def test_cross_join_takes_its_broadcast_frames_class():
    adjudicated, unknown, _ = classify([
        _xjoin("operators/generators.py", "permutation_triplets",
               "F.broadcast(b)"),
    ])
    assert not unknown
    assert [cls for _, cls, _ in adjudicated] == ["dimension"]


def test_cross_join_without_a_bounded_rows_class_is_unadjudicated():
    sites = [
        # `dates` has a broadcast entry, but in another function
        _xjoin("plans/airline.py", "legs", "F.broadcast(dates)"),
        # broadcast, but no entry at all
        _xjoin("plans/airline.py", "requests", "F.broadcast(codes)"),
        # node-table and sketch-state frames do not bound a cross join
        _xjoin("operators/graph.py", "pagerank", "F.broadcast(ranks)"),
        _xjoin("operators/similarity.py", "pq_adc_topk",
               "F.broadcast(codebook)"),
        # not broadcast and no cross-join entry
        _xjoin("plans/fixtures_timeseries.py", "events_xcorr_lead_lag",
               "ks"),
    ]
    adjudicated, unknown, _ = classify(sites)
    assert not adjudicated
    assert unknown == sites


def test_removing_a_broadcast_entry_unadjudicates_its_cross_join(
    monkeypatch,
):
    key = ("broadcast", "plans/airline.py", "requests", "dates")
    monkeypatch.delitem(ALLOWLIST, key)
    _, unknown, _ = classify()
    assert {(s.kind, s.arg) for s in unknown} == {
        ("broadcast", "dates"), ("crossjoin", "F.broadcast(dates)"),
    }


def test_a_cross_join_over_a_broadcast_frame_has_no_entry_of_its_own():
    with pytest.raises(ValueError, match="broadcast frame"):
        allow("crossjoin", "plans/airline.py", "requests",
              "F.broadcast(dates)", "calendar", "date spine, again")
