"""Render the aggregate-cell / cross-join audit to CELL_AUDIT.md.

Usage: python scripts/cell_audit.py [out_md]

Exit status 1 if any collect_list/collect_set/crossJoin site is
UNADJUDICATED or any allowlist entry is STALE — the same conditions
tests/test_cell_audit.py enforces. Pure source analysis, ~1s.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airline_dataset_hadoop_public_spark.plans.cell_audit import classify


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CELL_AUDIT.md",
    )
    adjudicated, unknown, stale = classify()
    hist = Counter(f"{s.kind}:{cls}" for s, cls, _ in adjudicated)

    lines = [
        "# Aggregate-cell / cross-join audit "
        "(generated by scripts/cell_audit.py)",
        "",
        "Every `collect_list` / `collect_set` site (the whole group "
        "lands in ONE array cell — an unbounded group is an OOM at "
        "100 TB) and every `crossJoin` site (output = |left| x "
        "|right|), classified with a written boundedness reason. "
        "Adjudications live in plans/cell_audit.py; "
        "tests/test_cell_audit.py gates unadjudicated sites and "
        "stale entries.",
        "",
        "Cell classes: entity / k-bounded / domain / cap-guard / "
        "cluster / exact-mode. Cross-join classes: scalar / "
        "dimension / calendar / contract.",
        "",
        "Shapes FIXED by this audit (r10): docs_inverted_index "
        "collected each term's full corpus-scaled posting set and "
        "sliced afterwards — now a literal rn <= 100 rank filter "
        "bounds the collect map-side (WindowGroupLimit); "
        "adamic_adar_scores collected a hub's full adjacency into "
        "one cell before applying hub_cap — the cap is now a degree "
        "pre-filter ahead of the collect.",
        "",
        f"**{len(adjudicated)} sites adjudicated, "
        f"{len(unknown)} unadjudicated, {len(stale)} stale.** "
        "Histogram: "
        + ", ".join(f"{k}={v}" for k, v in sorted(hist.items())),
        "",
        "| kind | file | function | argument | class | boundedness |",
        "|---|---|---|---|---|---|",
    ]
    # Rows carry the allowlist key (kind, path, function, argument)
    # and no line number, so moving code leaves the inventory as it is.
    for s, cls, reason in sorted(
        adjudicated, key=lambda t: (t[0].path, t[0].func, t[0].arg, t[0].kind)
    ):
        arg = s.arg if len(s.arg) <= 50 else s.arg[:47] + "..."
        arg = arg.replace("|", "\\|")
        lines.append(
            f"| {s.kind} | {s.path} | {s.func} | `{arg}` | {cls} | {reason} |"
        )
    if unknown:
        lines += ["", "## UNADJUDICATED", ""]
        lines += [
            f"- {s.kind} {s.path}:{s.lineno} {s.func} `{s.arg[:70]}`"
            for s in unknown
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
