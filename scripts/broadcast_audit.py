"""Render the broadcast-hint audit to BROADCAST_AUDIT.md.

Usage: python scripts/broadcast_audit.py [out_md]

Exit status 1 if any `F.broadcast` site is UNADJUDICATED (no
allowlist entry in plans/broadcast_audit.py) or any allowlist entry is
STALE (matches no site) — the same conditions
tests/test_broadcast_audit.py enforces in CI. Pure source analysis:
no SparkSession, runs in ~1s.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airline_dataset_hadoop_public_spark.plans.broadcast_audit import classify


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BROADCAST_AUDIT.md",
    )
    adjudicated, unknown, stale = classify()
    hist = Counter(cls for _, cls, _ in adjudicated)

    lines = [
        "# Broadcast-hint audit (generated by scripts/broadcast_audit.py)",
        "",
        "Every `F.broadcast(...)` call site in the package, classified "
        "by SIZE PROVENANCE (plans/broadcast_audit.py holds the "
        "adjudications; tests/test_broadcast_audit.py is the gate):",
        "",
        "- **scalar** — one-row aggregates (totals, thresholds, "
        "solver outputs)",
        "- **dimension** — bounded key domains (nation/region, event "
        "types, languages, buckets)",
        "- **calendar** — time spines / lag grids, bounded by span",
        "- **offset** — two-pass primitives' per-range-partition "
        "offset tables (rows = partition count)",
        "- **sketch-state** — fixed-size sketch/codebook state "
        "(bloom words, count-min cells, PQ codebooks, centroids)",
        "- **node-table** — graph node frames (nodes << edges; "
        "broadcast->shuffle knob documented inline)",
        "- **cap-guard** — bounded by an enforced cap with a loud "
        "failure path",
        "- **contract** — the operator/fixture documents a "
        "low-cardinality / small-side input contract",
        "- **pattern-pinned** — the query exists to pin the "
        "broadcast-hash plan shape",
        "",
        "Hints REMOVED by the audits (r9: vocabulary-scaled tfidf; "
        "r10: fact-scaled TPC-H customer/part/supplier sides, the "
        "corpus-scaled decontamination n-gram set, the churn-scaled "
        "MOR delete manifest, key/group-cardinality frames in the "
        "generic kmv/ddsketch/ntile operators, the customer-scaled "
        "bloom exact-confirm side) do not appear here: AQE picks "
        "their join strategy from runtime sizes.",
        "",
        f"**{len(adjudicated)} sites adjudicated, "
        f"{len(unknown)} unadjudicated, {len(stale)} stale entries.** "
        "Class histogram: "
        + ", ".join(f"{k}={v}" for k, v in sorted(hist.items())),
        "",
        "| file | function | broadcast frame | class | boundedness |",
        "|---|---|---|---|---|",
    ]
    # Rows carry the allowlist key (path, function, argument) and no
    # line number, so moving code leaves the inventory as it is.
    for s, cls, reason in sorted(
        adjudicated, key=lambda t: (t[0].path, t[0].func, t[0].arg)
    ):
        arg = s.arg if len(s.arg) <= 60 else s.arg[:57] + "..."
        arg = arg.replace("|", "\\|")
        lines.append(f"| {s.path} | {s.func} | `{arg}` | {cls} | {reason} |")
    if unknown:
        lines += ["", "## UNADJUDICATED", ""]
        lines += [
            f"- {s.path}:{s.lineno} {s.func} `{s.arg[:80]}`" for s in unknown
        ]
    if stale:
        lines += ["", "## STALE ENTRIES", ""]
        lines += [f"- {k}" for k in stale]

    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    print(
        f"  adjudicated={len(adjudicated)}, unadjudicated={len(unknown)}, "
        f"stale={len(stale)}"
    )
    return 1 if (unknown or stale) else 0


if __name__ == "__main__":
    raise SystemExit(main())
