"""Run the window-hazard audit over every registered query → WINDOW_AUDIT.md.

Usage: python scripts/window_audit.py [out_md] [query ...]

Exit status 1 if any window is UNADJUDICATED (no __pid key, no
entity key, no allowlist entry) — the same condition
tests/test_window_audit.py enforces in CI.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.001"


def main() -> int:
    out_path = os.path.join(_REPO, "WINDOW_AUDIT.md")
    args = sys.argv[1:]
    if args and args[0].endswith(".md"):
        out_path, args = args[0], args[1:]

    from airline_dataset_hadoop_public_spark.plans import window_audit as wa
    from airline_dataset_hadoop_public_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("window-audit", shuffle_partitions=8)
    qs = e.queries()
    names = args or sorted(qs)

    rows: list[wa.WindowFinding] = []
    errors: list[tuple[str, str]] = []
    for name in names:
        try:
            rows.extend(wa.audit_query(name, qs[name](spark, SF)))
        except Exception as ex:  # construction itself failed
            errors.append((name, f"{type(ex).__name__}: {ex}"))

    by_status = Counter(r.status for r in rows)
    bad = [r for r in rows if r.status == "UNADJUDICATED"]
    with open(out_path, "w") as f:
        f.write(wa.render_inventory(rows, len(names), errors, SF))

    print(f"wrote {out_path}: {len(rows)} windows over {len(names)} queries")
    print("  " + ", ".join(f"{k}={v}" for k, v in sorted(by_status.items())))
    for r in bad:
        print(f"  UNADJUDICATED {r.query}: "
              f"[{', '.join(sorted(r.keys)) or '(global)'}]")
    for n, msg in errors:
        print(f"  ERROR {n}: {msg}")
    spark.stop()
    return 1 if bad or errors else 0


if __name__ == "__main__":
    sys.exit(main())
