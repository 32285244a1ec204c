"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

From the root of a checkout: makes the seeded inputs, computes the
expected answers with DuckDB, starts one Spark session on
``local[<cores>]``, sets the workload up several times, warms it up,
then runs its operations in a closed loop for ``--seconds`` seconds and
checks each output. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it records the host, the workload's input sizes and
the wall-clock figures (and, traced, the per-layer names the workload
never ran). A traced run also writes every span and the per-layer
self times to ``.perfbench-out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "airline_dataset_hadoop_public_spark"
WORKLOAD_NAMES = ("airline_batch", "serving_lookups")

# Untimed warm-up operations before the timed window. A fixed count
# rather than "until settled": passes keep speeding up for many
# rounds as the JVM compiles, and the same count in every run keeps
# the timed window equally warm from run to run. A batch pass kept
# getting cheaper for seven passes (10.5 → 5.7 CPU-s on 4 vCPUs); the
# lookups of the first twelve cost about 1.25x those after.
WARM_UP = {"airline_batch": 3, "serving_lookups": 12}
# Fewest timed operations a run holds, whatever ``--seconds`` says.
# They take longer than the 8 s that BENCHMARK.json sets, so every run
# times the same stretch of the warming curve. A window always ends on
# a whole number of the workload's ``cycle`` of operations, so every
# window times the same blend.
MIN_OPS = {"airline_batch": 5, "serving_lookups": 15}

# End-to-end metrics (name → unit), the same on every workload; an
# operation is one pipeline pass or one lookup. CPU rather than wall
# time: the host is a VM whose vCPUs other guests steal 5-20% of the
# time, which moved wall-clock medians by 30-40% between runs while
# process-tree CPU moved about 10%. ``cpu_s_per_op`` is the window's
# mean: costs still drift through the window, and on the same ten-seed
# runs the mean's spread was 0.065-0.072 of its median where the
# median over operations or cycles gave 0.089-0.110. ``setup_s`` is process-tree CPU
# too: the session start plus the median of the workload's set-ups.
# Wall-clock figures go on the info line before the result.
END_TO_END = {"cpu_s_per_op": "s", "setup_s": "s"}
# Per-layer metrics. Each workload runs only some layers; a traced run
# still prints every name, gives the ones its workload never ran as 0
# and lists them under "not_run" on the info line. Sizes fixed by the
# inputs (CSV bytes, Tom's-trip requests, candidates and answers) are
# not here: they describe the workload and go on the info line too.
PER_LAYER = [
    "session.start_s",
    "ingest.canonicalize_s",
    "ingest.canonical_bytes",
    "ingest.canonical_files",
    "airline.g1q1_s",
    "airline.g1q2_s",
    "airline.g2q1_s",
    "airline.g2q2_s",
    "airline.g2q3_s",
    "airline.g3q1_s",
    "airline.airports_s",
    "analytics.fit_s",
    "toms.leg1_s",
    "toms.leg2_s",
    "serving.write_files",
    "serving.write_bytes",
    "serving.partitions",
    "serving.discover_ms",
    "serving.execute_ms",
    "serving.lookup_tail_ms",
    "serving.jobs_per_lookup",
    "serving.tasks_per_lookup",
    "runtime.released_frames",
    "process.peak_rss_mb",
    *(f"{g}.{k}" for g in ("airline", "toms", "serving")
      for k in ("jobs", "tasks", "failed_tasks")),
    "trace.overhead_ms",
]
_UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_bytes": "bytes", "_ratio": "ratio"}


def _unit(name: str) -> str:
    return next((u for suffix, u in _UNITS.items() if name.endswith(suffix)), "count")


def _isolate(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let
    Spark's Python workers import the package: they are started by the
    JVM, so ``sys.path`` of this process does not reach them."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM the launcher starts; no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _cpu_ticks() -> list[int]:
    """System-wide CPU ticks from /proc/stat: user .. steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _host(spark, ticks0: list[int]) -> dict:
    """The host a result was measured on. ``steal_share`` is the share
    of CPU time the hypervisor gave to other guests during the run."""
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    delta = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "load_1m": os.getloadavg()[0],
        "steal_share": delta[7] / max(1, sum(delta)),
    }


def _peak_rss_mb(snapshot) -> float:
    """Sum of the peak resident sets of the live process tree."""
    kb = 0
    for pid, _ in snapshot:
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(
                    (int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return kb / 1024


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except Exception:
        gateway.proc.kill()
        gateway.proc.wait()


class Runner:
    def __init__(self, wl, ctx, name: str):
        from airline_dataset_hadoop_public_spark.runtime import release_caches
        from bench import _cpu_delta, _tree_cpu_snapshot

        self.wl, self.ctx, self.name = wl, ctx, name
        self._release = release_caches
        self._snap, self._delta = _tree_cpu_snapshot, _cpu_delta
        self.attempted = self.failed = self.released = 0
        self.i = 0

    def _checked(self, what: str, fn) -> bool:
        """Run ``fn``; an exception or a False result is one failure."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception as exc:  # counted, never fatal
            print(f"{what} raised: {exc!r}", file=sys.stderr)
            ok = False
        self.failed += not ok
        return ok

    def _timed(self, what: str, run, check) -> tuple[float, float]:
        """Time ``run()`` (wall and tree CPU seconds), then count it as
        one operation that fails if it raised or ``check(out)`` is not
        true. The check is not timed."""
        cpu0 = self._snap()
        t0 = time.perf_counter()
        try:
            out, err = run(), None
        except Exception as exc:
            out, err = None, exc
        dt = time.perf_counter() - t0
        cpu = self._delta(cpu0, self._snap())

        def verdict():
            if err is not None:
                raise err
            return check(out)

        if not self._checked(what, verdict):
            print(f"{what}: failed or differs from the oracle", file=sys.stderr)
        return dt, cpu

    def setup(self, rep: int) -> tuple[float, float]:
        """One checked set-up: (seconds, tree CPU seconds)."""
        with self.ctx.span("setup"):
            return self._timed(
                f"set-up {rep}", lambda: self.wl.setup(rep),
                lambda _: self.wl.check_setup(rep),
            )

    def one(self) -> tuple[float, float, int]:
        """One operation, checked: (seconds, tree CPU seconds, units)."""
        i, self.i = self.i, self.i + 1
        dt, cpu = self._timed(
            f"op {i}", lambda: self.wl.op(i), lambda out: self.wl.verify(i, out)
        )
        self.released += self._release()
        self.ctx.spark.catalog.clearCache()
        return dt, cpu, self.wl.units()

    def warm_up(self) -> list[float]:
        return [self.one()[0] for _ in range(WARM_UP[self.name])]

    def window(self, seconds: float, min_ops: int, tracers=None):
        """Closed loop for ``seconds``, then on to a whole number of
        the workload's cycle: lists of (time, cpu, units). With
        ``tracers``, operation ``i`` runs under ``tracers[i % n]``."""
        out = []
        cycle = self.wl.cycle * (len(tracers) if tracers else 1)
        start = time.perf_counter()
        while (time.perf_counter() - start < seconds or len(out) < min_ops
               or len(out) % cycle):
            if tracers:
                self.ctx.tracer = tracers[len(out) % len(tracers)]
            out.append(self.one())
        return [list(col) for col in zip(*out)]


def _wall(times, units) -> dict:
    """Wall-clock figures of the timed window: throughput, median and
    the tail percentile with ten samples beyond it (when there is one)."""
    from perfbench.stats import median, percentile, tail_percentile

    tail = tail_percentile(len(times))
    return {
        "ops": len(times),
        "throughput_per_s": sum(units) / sum(times),
        "op_p50_ms": median(times) * 1000,
        **({f"op_p{tail}_ms": percentile(times, tail) * 1000} if tail else {}),
    }


def _per_layer(ctx, tracer, window_from: int, released: int, peak_mb, overhead_ms):
    """(every per-layer metric, the names this workload never ran)."""
    from perfbench import spans as S
    from perfbench.stats import median, percentile, tail_percentile

    sc = ctx.spark.sparkContext
    timed = tracer.spans[window_from:]

    def durations(name):
        # Prefer the timed window; fall back to set-up, where the
        # serving workload writes its tables.
        found = [s.duration for s in timed if s.name == name]
        return found or [s.duration for s in tracer.spans if s.name == name]

    m: dict[str, float] = {"session.start_s": durations("session.start")[0]}
    for name in PER_LAYER:
        if name.endswith("_s") and durations(name[:-2]):
            m[name] = median(durations(name[:-2]))
    m.update(ctx.counters)
    if ctx.written:
        for i, key in enumerate(("serving.write_files", "serving.write_bytes",
                                 "serving.partitions")):
            m[key] = sum(t[i] for t in ctx.written.values())
    work = {s.id: S.spark_work(sc, s.job_group) for s in tracer.spans if s.job_group}
    lookups = durations("serving.lookup")
    if lookups:
        m["serving.discover_ms"] = median(durations("serving.point_read")) * 1000
        m["serving.execute_ms"] = median(durations("serving.collect")) * 1000
        tail = tail_percentile(len(lookups))
        m["serving.lookup_tail_ms"] = (
            percentile(lookups, tail) if tail else max(lookups)
        ) * 1000
        # Means, not medians: the traced lookups cover every table
        # equally, and only the leg-2 reads list with jobs of their own.
        per_lookup = [work[s.id] for s in timed if s.name == "serving.lookup"]
        m["serving.jobs_per_lookup"] = sum(w[0] for w in per_lookup) / len(per_lookup)
        m["serving.tasks_per_lookup"] = sum(w[1] for w in per_lookup) / len(per_lookup)
    for group in ("airline", "toms", "serving"):
        ws = [work[s.id] for s in tracer.spans if s.group == group and s.id in work]
        if ws:
            for i, k in enumerate(("jobs", "tasks", "failed_tasks")):
                m[f"{group}.{k}"] = sum(w[i] for w in ws)
    m["runtime.released_frames"] = released
    m["process.peak_rss_mb"] = peak_mb
    m["trace.overhead_ms"] = overhead_ms
    return {name: m.get(name, 0) for name in PER_LAYER}, [
        name for name in PER_LAYER if name not in m
    ]


def run(args, work: str) -> int:
    from airline_dataset_hadoop_public_spark.session import get_spark
    from bench import _cpu_delta, _tree_cpu_snapshot
    from perfbench import spans as S
    from perfbench.stats import median
    from perfbench.workloads import WORKLOADS, Context

    cores = len(os.sched_getaffinity(0))
    ticks0 = _cpu_ticks()
    cpu0 = _tree_cpu_snapshot()
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=cores,
        driver_memory="2g",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "hadoop"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every job of a run readable by the status tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    t1 = time.perf_counter()
    session_cpu = _cpu_delta(cpu0, _tree_cpu_snapshot())
    try:
        tracer = S.Tracer(spark.sparkContext) if args.trace else S.NullTracer()
        if args.trace:
            tracer.spans.append(S.Span(0, "session.start", None, 0, t0, t1))
        ctx = Context(spark, work, args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()
        _log(f"session {t1 - t0:.2f}s ({session_cpu:.2f} CPU-s), "
             f"inputs and oracle {time.perf_counter() - t1:.2f}s")
        runner = Runner(wl, ctx, args.workload)
        setups = [runner.setup(rep) for rep in range(wl.setup_reps)]
        setup_s = session_cpu + median([cpu for _, cpu in setups])
        _log("set-ups " + " ".join(f"{dt:.2f}s ({cpu:.2f} CPU-s)" for dt, cpu in setups))

        ctx.tracer = S.NullTracer()
        a = time.perf_counter()
        warm = runner.warm_up()
        _log(f"warm-up {len(warm)} ops in {time.perf_counter() - a:.2f}s: "
             + " ".join(f"{x:.3f}" for x in warm))
        window_from = len(tracer.spans) if args.trace else 0
        if args.trace:
            # Traced and untraced operations alternate, so the overhead
            # estimate is not confounded with the JVM still warming up.
            times, cpus, units = runner.window(
                args.seconds, 2 * MIN_OPS[args.workload], [tracer, S.NullTracer()]
            )
            overhead_ms = (median(times[0::2]) - median(times[1::2])) * 1000
        else:
            times, cpus, units = runner.window(args.seconds, MIN_OPS[args.workload])
        _log(f"timed {len(times)} ops in {sum(times):.2f}s: "
             + " ".join(f"{x:.3f} ({c:.2f})" for x, c in zip(times, cpus)))
        peak = _peak_rss_mb(runner._snap())

        info = {"workload": args.workload, "seed": args.seed, "sizes": wl.sizes()}
        if args.trace:
            metrics, info["not_run"] = _per_layer(
                ctx, tracer, window_from, runner.released, peak, overhead_ms
            )
            layers = S.layer_summary(tracer.spans)
            out_dir = os.path.join(ROOT, ".perfbench-out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"layers": layers, "metrics": metrics, **info},
            )
            for name, row in sorted(layers.items()):
                print(f"{name:36s} n={row['count']:<5d} total={row['total_s']:9.4f}s "
                      f"self={row['self_s']:9.4f}s", file=sys.stderr)
        else:
            metrics = {"cpu_s_per_op": sum(cpus) / len(cpus), "setup_s": setup_s}
        info["host"] = _host(spark, ticks0)
    finally:
        _stop(spark)

    print(json.dumps({**info, "wall": _wall(times, units)}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            k: {"value": v, "unit": END_TO_END.get(k) or _unit(k)}
            for k, v in metrics.items()
        },
    }))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
