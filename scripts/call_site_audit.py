"""Render the call-site audit to CALL_SITE_AUDIT.md.

Usage: python scripts/call_site_audit.py [out_md]

Exit status 1 if any `F.broadcast` / `collect_list` / `collect_set` /
`crossJoin` site is UNADJUDICATED (no allowlist entry in
plans/call_site_audit.py) or any allowlist entry is STALE (matches no
site) — the same conditions tests/test_broadcast_audit.py and
tests/test_cell_audit.py enforce. Pure source analysis: no
SparkSession, runs in ~1s.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from airline_dataset_hadoop_public_spark.plans.call_site_audit import (
    classify,
    render_inventory,
)


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        _REPO, "CALL_SITE_AUDIT.md"
    )
    adjudicated, unknown, stale = classify()
    with open(out, "w") as fh:
        fh.write(render_inventory(adjudicated, unknown, stale))
    print(f"wrote {out}")
    print(
        f"  adjudicated={len(adjudicated)}, unadjudicated={len(unknown)}, "
        f"stale={len(stale)}"
    )
    return 1 if (unknown or stale) else 0


if __name__ == "__main__":
    raise SystemExit(main())
