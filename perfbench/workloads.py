"""The benchmark's workloads, each driven through the engine's public
functions.

A workload has four phases, which the runner calls in order:

- ``prepare()``: write the seeded inputs and compute every expected
  answer with the DuckDB oracle. Untimed.
- ``setup(rep)``: the engine-side preparation the operations need.
  The runner repeats it into fresh directories and reports the median
  as part of ``setup_s``; ``check_setup(rep)`` then checks what it
  wrote. Untimed.
- ``op(i)``: one timed operation; returns its raw output.
- ``verify(i, out)``: compare that output with the oracle. Untimed.

``cycle`` is the number of operations after which the blend of
operations repeats; a timed window holds whole cycles. ``sizes()``
describes the inputs for the result's info line.

Every call into an engine layer sits inside a tracer span. With the
null tracer of an untraced run the spans cost one context manager.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
from pyspark.sql import functions as F

from airline_dataset_hadoop_public_spark import analytics
from airline_dataset_hadoop_public_spark.plans import airline as A
from airline_dataset_hadoop_public_spark.sources import ingest, serving
from airline_dataset_hadoop_public_spark.testing.ontime import AIRPORTS

from . import inputs
from .check import top_k_ok
from .oracle import AVG_FAMILIES, BATCH_SQL, LEG_COLUMNS, Oracle


def value_hash(rows, cols):
    # Imported late: the repo root is on sys.path only once run.py set it.
    from scripts.check_correctness import value_hash as vh

    return vh(rows, cols)


def tree_stats(path: str) -> tuple[int, int, int]:
    """(parquet files, bytes, leaf directories) of a written table."""
    files = size = leaves = 0
    for d, sub, names in os.walk(path):
        data = [n for n in names if n.endswith(".parquet")]
        files += len(data)
        size += sum(os.path.getsize(os.path.join(d, n)) for n in data)
        if data and not sub:
            leaves += 1
    return files, size, leaves


class Context:
    """What every workload shares: the session, its scratch directory,
    the seed, the current tracer and the per-layer counters."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.counters: dict[str, float] = {}
        # serving table → (files, bytes, partitions) as last written
        self.written: dict[str, tuple[int, int, int]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, group: str | None = None):
        return self.tracer.span(name, group)


def _collect(ctx: Context, name: str, build, group: str | None = None):
    """Build a lazy plan and run its action as two child spans of one
    layer span; returns (columns, rows)."""
    with ctx.span(name, group):
        with ctx.span(name + ".plan"):
            df = build()
        with ctx.span(name + ".action"):
            rows = [tuple(r) for r in df.collect()]
    return df.columns, rows


def _canonicalize(ctx: Context, csv_dir: str, out: str, group: str) -> None:
    with ctx.span("ingest.canonicalize", group):
        with ctx.span("ingest.canonicalize.plan"):
            df = ingest.read_ontime_csv(ctx.spark, csv_dir)
        with ctx.span("ingest.canonicalize.action"):
            ingest.canonicalize(df, out)
    files, size, _ = tree_stats(out)
    ctx.counters["ingest.canonical_files"] = files
    ctx.counters["ingest.canonical_bytes"] = size


def _write(ctx: Context, name: str, build, path: str, keys: list[str], group: str):
    """Build a plan and write it as a serving table, as two child spans
    of one layer span; records the written layout."""
    with ctx.span(name, group):
        with ctx.span(name + ".plan"):
            df = build()
        with ctx.span(name + ".action"):
            serving.write_serving(df, path, keys)
    ctx.written[name] = tree_stats(path)


class _Airline:
    """Shared by both workloads: the seeded CSV tree and its ingest.

    50k rows over 2007-2008: on 4 vCPUs a timed pass of the seven
    families takes 2.5-3.6 s (6-8 CPU-s), most of it per-job overhead,
    as it is for the families at 1M rows; with 200k rows the early
    passes took 1.5x as long (1.2x the CPU) and the inputs and oracle
    4.5x."""

    n_rows = 50_000
    setup_reps = 3
    cycle = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.csv = ctx.path("csv")

    def prepare(self) -> None:
        self.csv_bytes = inputs.write_csv_tree(self.csv, self.n_rows, self.ctx.seed)
        self.oracle = Oracle(self.csv)
        self.rows = self.oracle.count()

    def sizes(self) -> dict:
        return {"rows": self.rows, "csv_bytes": self.csv_bytes}

    def _ontime(self, rep, group: str):
        canon = self.ctx.path(f"canonical-{rep}")
        _canonicalize(self.ctx, self.csv, canon, group)
        return ingest.read_canonical(self.ctx.spark, canon)


FAMILIES = {
    "g1q1": A.g1q1_airport_popularity,
    "g1q2": A.g1q2_carrier_on_time,
    "g2q1": A.g2q1_carriers_per_airport,
    "g2q2": A.g2q2_dests_per_airport,
    "g2q3": A.g2q3_carriers_per_route,
    "g3q1": A.g3q1_popularity_ranked,
    "airports": A.airports,
}


def _fit(g3q1_cols, g3q1_rows) -> dict:
    pdf = pd.DataFrame(g3q1_rows, columns=g3q1_cols)
    return analytics.fit_rank_distribution(pdf.rename(columns={"flights": "cnt"}))


class AirlineBatch(_Airline):
    """CSV tree → ingest → the seven query families + the rank fit;
    one operation is one whole pipeline pass, its units are flights."""

    def prepare(self) -> None:
        super().prepare()
        self.expected = {
            name: value_hash(rows, cols)
            for name, (cols, rows) in self.oracle.batch().items()
        }
        self.means = self.oracle.means()
        cols, rows = self.oracle.rows(
            "SELECT * FROM (" + BATCH_SQL["g3q1"] + ") ORDER BY rank"
        )
        self.expected_fit = _fit(cols, rows)["best"]
        self.oracle.close()

    def setup(self, rep: int) -> None:
        self._ontime(rep, "airline")

    def check_setup(self, rep: int) -> bool:
        return True

    def op(self, i: int):
        out = {}
        with self.ctx.span("airline.pass"):
            on = self._ontime("pass", "airline")
            for name, fn in FAMILIES.items():
                out[name] = _collect(
                    self.ctx, f"airline.{name}", lambda fn=fn: fn(on), "airline"
                )
            with self.ctx.span("analytics.fit"):
                out["fit"] = _fit(*out["g3q1"])["best"]
        return out

    def units(self) -> int:
        return self.rows

    def verify(self, i: int, out) -> bool:
        bad = [] if out.pop("fit") == self.expected_fit else ["fit"]
        for name, (cols, rows) in out.items():
            if name in AVG_FAMILIES:
                keys, _, col, n_part = AVG_FAMILIES[name]
                ok = top_k_ok(cols, rows, keys, col, n_part, self.means[name])
            else:
                ok = value_hash(rows, cols) == self.expected[name]
            if not ok:
                bad.append(name)
        if bad:
            print(f"airline_batch op {i}: {bad} differ", file=sys.stderr)
        return not bad


class ServingLookups(_Airline):
    """A single closed-loop client issuing point reads against the
    serving tables set-up wrote: G2Q1 by ``Origin`` and both Tom's-trip
    legs (G3Q2, for the requests from the six busiest origins over the
    first week of 2008) by their 4-column request key; a share of keys
    has no answer. One operation is one lookup. Expected rows come from
    DuckDB's own read of the written tables, which are first checked
    against the oracle.

    The layout is the one every lookup lists. Spark lists a directory
    of more than 32 children with a Spark job of its own. With these
    origins and dates the leg-2 table has 228-234 ``origin=/stop=``
    directories, 38-39 under each origin, so listing it takes six jobs
    on every seed; the leg-1 table has 45-75, at most 25 under an
    origin, and is listed in the driver. With seed-drawn origins or
    more dates, how many leg-1 origins crossed that line (0-5) depended
    on the seed, and so did the leg-1 lookup time (0.5-0.9 s).
    """

    setup_reps = 1
    origins = sorted(AIRPORTS[:6])  # the generator's most frequent
    dates = ("2008-01-01", "2008-01-07")
    # A cycle is one read of each table; every fifth read of a table is
    # for a key with no answer, so any 15 reads hold three misses.
    cycle = 3
    # More keys than any run reads, so no key is read twice in a run.
    n_keys = 150

    def prepare(self) -> None:
        super().prepare()
        self.legs = self.oracle.toms(self.origins, *self.dates)
        self.requests = self.oracle.requests_count()
        self.leg_candidates = self.oracle.legs_count()
        self.means = self.oracle.means()["g2q1"]
        self.leg_answers = {
            (f"leg{no}", *r[:4]): [r] for no, rows in self.legs.items() for r in rows
        }
        keys = {no: [r[:4] for r in rows] for no, rows in self.legs.items()}
        misses = {no: self.oracle.misses(no, 200, self.ctx.seed) for no in (1, 2)}
        self.keys = inputs.lookup_keys(self.ctx.seed, self.n_keys, keys, misses)

    def setup(self, rep: int) -> None:
        on = self._ontime(rep, "serving")
        self.root = self.ctx.path(f"serving-{rep}")
        _write(self.ctx, "airline.g2q1", lambda: A.g2q1_carriers_per_airport(on),
               os.path.join(self.root, "g2q1"), ["Origin"], "serving")
        spark, (start, end) = self.ctx.spark, self.dates

        def leg(no):
            def build():
                cands = A.leg_candidates(on)
                req = A.requests(spark, A.airports(on), start, end).filter(
                    F.col("origin").isin(self.origins)
                )
                return A.toms_leg(req, cands, no)

            return build

        for no in (1, 2):
            _write(self.ctx, f"toms.leg{no}", leg(no),
                   os.path.join(self.root, f"leg{no}"), ["origin", "stop"], "toms")

    def check_setup(self, rep: int) -> bool:
        for no, rows in self.legs.items():
            cols, got = self.oracle.serving_rows(os.path.join(self.root, f"leg{no}"))
            if value_hash(got, cols) != value_hash(rows, LEG_COLUMNS):
                print(f"Tom's leg {no} differs", file=sys.stderr)
                return False
        cols, rows = self.oracle.serving_rows(os.path.join(self.root, "g2q1"))
        origin = cols.index("Origin")
        self.answers = dict(self.leg_answers)
        for r in rows:
            self.answers.setdefault(("g2q1", r[origin]), []).append(r)
        self.row_columns = {"g2q1": cols, "leg1": LEG_COLUMNS, "leg2": LEG_COLUMNS}
        keys, _, col, n_part = AVG_FAMILIES["g2q1"]
        return top_k_ok(cols, rows, keys, col, n_part, self.means)

    _KEY_COLUMNS = {
        "g2q1": ("Origin",),
        "leg1": ("origin", "stop", "dest", "request_date"),
        "leg2": ("origin", "stop", "dest", "request_date"),
    }

    def op(self, i: int):
        table, key = self.keys[i % len(self.keys)]
        where = dict(zip(self._KEY_COLUMNS[table], key))
        ctx = self.ctx
        with ctx.span("serving.lookup", "serving"):
            with ctx.span("serving.point_read"):
                df = serving.point_read(ctx.spark, os.path.join(self.root, table), **where)
            with ctx.span("serving.collect"):
                rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    def units(self) -> int:
        return 1

    def sizes(self) -> dict:
        answers = len(self.legs[1]) + len(self.legs[2])
        return {
            **super().sizes(),
            "toms.requests": self.requests,
            "toms.leg_candidates": self.leg_candidates,
            "toms.answers": answers,
            "toms.answer_ratio": answers / (2 * self.requests),
        }

    def verify(self, i: int, out) -> bool:
        table, key = self.keys[i % len(self.keys)]
        cols, rows = out
        want = self.answers.get((table, *key), [])
        return value_hash(rows, cols) == value_hash(want, self.row_columns[table])


WORKLOADS = {
    "airline_batch": AirlineBatch,
    "serving_lookups": ServingLookups,
}
