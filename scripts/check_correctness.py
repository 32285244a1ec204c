"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at the given sf against its
``oracle_sql()`` DuckDB equivalent and compares row count, column
names, and an order-insensitive value hash (columns sorted by name,
rows sorted, values stringified).

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append(f"{v:.9g}")
            else:
                vals.append(str(v))
        norm.append("\x1f".join(vals))
    norm.sort()
    return hashlib.sha256("\x1e".join(norm).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from airline_dataset_hadoop_public_spark.session import get_spark
    from airline_dataset_hadoop_public_spark.sources.catalog import FIXTURE_TABLES

    # perturbation hook: the determinism sweep re-runs the whole gate
    # under a different core/shuffle-partition count to prove no query
    # depends on partition layout or summation order; the plan-shift
    # sweep (scripts/adversarial_planshift.py) additionally injects
    # session confs that flip Catalyst's physical strategy choices
    cpus = os.environ.get("ADHPS_GATE_CPUS")
    shuf = os.environ.get("ADHPS_GATE_SHUFFLE")
    extra = dict(
        kv.split("=", 1)
        for kv in os.environ.get("ADHPS_GATE_CONF", "").split(",")
        if "=" in kv
    )
    spark = get_spark(
        "correctness-check",
        cpus=int(cpus) if cpus else None,
        shuffle_partitions=int(shuf) if shuf else None,
        extra_conf=extra or None,
    )
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            cols = sdf.columns
            rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            failures += 1
            continue
        sql = oracles[name]
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            otypes = [d[1] for d in res.description]
            orows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: oracle raised")
            traceback.print_exc()
            failures += 1
            continue
        problems = []
        # DuckDB NUMBER covers BIGINT and HUGEINT alike at the DB-API
        # layer; detect HUGEINT (e.g. SUM over int) via the typed
        # relation so driver-side hash/schema drift is caught locally.
        try:
            dd_types = dict(
                zip(ocols, [str(t) for t in con.sql(sql).types])
            )
            hu = [c for c, t in dd_types.items() if "INT128" in t or "HUGEINT" in t]
            if hu:
                problems.append(f"oracle HUGEINT output cols {hu} (CAST to BIGINT)")
            dec = [c for c, t in dd_types.items() if "DECIMAL" in t]
            spark_types = dict(sdf.dtypes)
            for c in dec:
                if spark_types.get(c) == "double":
                    problems.append(
                        f"oracle DECIMAL vs spark double for col {c}"
                    )
        except Exception:
            pass  # typed-relation probe is best-effort
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} vs oracle {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols {sorted(cols)} vs oracle {sorted(ocols)}")
        elif value_hash(rows, cols) != value_hash(orows, ocols):
            problems.append("value-hash mismatch")
        if problems:
            failures += 1
            print(f"FAIL {name}: {'; '.join(problems)}")
            if not (only and len(only) == 1):
                continue
            # single-query mode: dump a diff sample
            sset = {tuple(str(x) for x in r) for r in rows}
            oset = {tuple(str(x) for x in r) for r in orows}
            print("  spark-only:", list(sset - oset)[:5])
            print("  oracle-only:", list(oset - sset)[:5])
        else:
            print(f"PASS {name} ({len(rows)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
