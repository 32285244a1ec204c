"""Seeded inputs: a BTS-shaped monthly CSV tree and the point-lookup
key stream.

Everything here is a pure function of the seed, so two runs with the
same seed see byte-identical inputs.
"""

from __future__ import annotations

import csv
import os
import random

from airline_dataset_hadoop_public_spark.sources.ingest import ONTIME_SCHEMA
from airline_dataset_hadoop_public_spark.testing.ontime import (
    AIRPORTS,
    generate_ontime_rows,
)

HEADER = [f.name for f in ONTIME_SCHEMA.fields]


def write_csv_tree(root: str, n_rows: int, seed: int) -> int:
    """One CSV per (year, month) under ``root/<year>/``, the layout of
    the BTS monthly downloads. Returns the number of bytes written."""
    by_month: dict[tuple[int, int], list] = {}
    for r in generate_ontime_rows(n_rows, seed):
        by_month.setdefault((r.FlightDate.year, r.FlightDate.month), []).append(r)
    total = 0
    for (year, month), rows in sorted(by_month.items()):
        d = os.path.join(root, str(year))
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"ontime_{year}_{month:02d}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(HEADER)
            # Row fields are in schema order; positional access avoids
            # Row's per-name field lookup.
            w.writerows(["" if v is None else v for v in r] for r in rows)
        total += os.path.getsize(path)
    return total


# Airport codes that never occur in the generated data: a lookup on
# one prunes every partition and must come back empty.
MISSING_AIRPORTS = ["QQA", "QQB", "QQC", "QQD", "QQE", "QQF"]


def lookup_keys(
    seed: int,
    n: int,
    leg_answers: dict[int, list[tuple]],
    leg_misses: dict[int, list[tuple]],
    miss_every: int = 5,
) -> list[tuple[str, tuple]]:
    """``n`` point reads, each ``(table, key)``. They cycle through the
    G2Q1 table (keyed by ``Origin``) and the two Tom's-leg tables
    (keyed by the 4-column request key), and every ``miss_every``-th
    read of a table asks for a key with no answer. The mix is fixed so
    every run times the same blend; only the keys are drawn from the
    seed."""
    rng = random.Random(seed * 104729 + 3)
    out = []
    for i in range(n):
        table = ("g2q1", "leg1", "leg2")[i % 3]
        miss = (i // 3) % miss_every == miss_every - 1
        if table == "g2q1":
            key = (rng.choice(MISSING_AIRPORTS if miss else AIRPORTS),)
        else:
            leg = 1 if table == "leg1" else 2
            key = rng.choice(leg_misses[leg] if miss else leg_answers[leg])
        out.append((table, key))
    return out
