#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,analytic,ingest} --seed N \
        --seconds S --trace {0,1}

Runs from the root of a source checkout on ``local[<cpus>]``.  Session
start, input generation and initial load are repeated ``SETUP_REPS``
times; ``setup_s`` is their median plus one warm-up.  The timed phase
then runs whole rounds of the workload's closed-loop operation mix until
``--seconds`` have passed; every output is checked afterwards, untimed.
With ``--trace 1`` the run times an untraced, a traced and another
untraced phase, and prints the per-layer metrics of the traced one and
the tracing overhead.  The last line of standard output is one JSON
object.  Everything the run writes lives under ``.perfbench/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SETUP_REPS = 3
# Metrics of the final JSON line; BENCHMARK.json declares the same names.
END_TO_END = ("setup_s", "ops_per_s", "op_p50_ms")
PER_LAYER = (
    "session.start_s", "catalog.load_table_s", "taps.read_s", "taps.write_self_s",
    "pipe.resolve_s", "cascade.self_s", "keyed.write_s", "keyed.buckets_touched_per_commit",
    "keyed.files_written_per_commit", "keyed.write_amp", "spark.jobs_per_op",
    "spark.tasks_per_op", "trace.overhead_op_p50_ms",
)


# workload -> (module, class); imported only once the engine is known present
WORKLOADS = {
    "serve": ("perfbench.serve", "Serve"),
    "analytic": ("perfbench.analytic", "Analytic"),
    "ingest": ("perfbench.ingest", "Ingest"),
}


def workload_class(name: str):
    module, cls = WORKLOADS[name]
    return getattr(importlib.import_module(module), cls)


def prepare_env(work: Path, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={tmp} --conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def start_session(cpus: int):
    from cascading_hbase_spark.session import get_session

    spark = get_session(app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the active session and the JVM it launched; wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    """One benchmark run: set-up repetitions, timed phases, checks."""

    def __init__(self, args, work: Path, cpus: int):
        self.args, self.work, self.cpus = args, work, cpus
        self.setup: list[float] = []
        self.session_start: list[float] = []
        self.setup_tracer = None
        self.b = self.wl = None

    def set_up(self) -> float:
        """SETUP_REPS x (session (re)start, input generation, initial load);
        the last repetition's state is measured.  One repetition (the
        second) is traced in a traced run.  Returns ``setup_s``."""
        from perfbench import gen
        from perfbench.harness import Bench
        from perfbench.stats import median

        inputs, tables = self.work / "inputs", self.work / "tables"
        cls = workload_class(self.args.workload)
        spark = None
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(self.cpus)
            self.session_start.append(time.perf_counter() - t0)
            shutil.rmtree(inputs, ignore_errors=True)
            sched = gen.GENERATORS[self.args.workload](self.args.seed, str(inputs))
            shutil.rmtree(tables, ignore_errors=True)
            tables.mkdir()
            b = Bench(spark, str(inputs), str(tables), self.args.seconds)
            traced = self.args.trace and rep == 1
            if traced:
                b.start_tracing()
            wl = cls(b, sched)
            wl.load()
            if traced:
                b.stop_tracing()
                self.setup_tracer, b.tracer = b.tracer, None
            self.setup.append(time.perf_counter() - t0)
            log(f"setup {rep}: {self.setup[-1]:.2f} s (session {self.session_start[-1]:.2f} s)")
        self.b, self.wl = b, wl
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        log(f"warm-up: {warm_s:.2f} s")
        return median(self.setup) + warm_s

    def phase(self) -> dict:
        """Whole rounds until ``--seconds`` have passed; end-to-end metrics."""
        from perfbench.stats import median

        b = self.b
        b.lat.clear()
        b.units = 0
        wall = b.run_for(self.wl.step)
        log(f"timed phase: {wall:.2f} s, {b.units} unit operations")
        for kind, xs in sorted(b.lat.items()):
            log(f"  {kind}: n={len(xs)} min {min(xs):.3f} median {median(xs):.3f} max {max(xs):.3f} s")
        return self.wl.end_to_end(wall, b.units)

    def traced_phases(self, untraced: dict) -> dict:
        """After the untraced phase: a traced one, then another untraced one.
        The overhead compares the traced phase with the mean of the two
        around it, which cancels part of the speed-up a still-warming JVM
        gives each later phase."""
        from perfbench import layers
        from perfbench.stats import median

        b = self.b
        first_lat = {k: list(v) for k, v in b.lat.items()}
        b.start_tracing()
        traced = self.phase()
        b.stop_tracing()
        b.unit_ops_traced = b.units
        report = layers.layer_metrics(b, self.setup_tracer, median(self.session_start))
        report.update(layers.self_time_breakdown(b))
        dump_spans(b.tracer, self.work / "trace.json")
        b.tracer = None
        after = self.phase()
        for kind, xs in b.lat.items():
            xs = first_lat.get(kind, []) + xs
            report[f"untraced.{kind}.mean_ms"] = (sum(xs) / len(xs) * 1e3, "ms")
        for name, (value, unit) in untraced.items():
            if name in traced and name in after:
                base = (value + after[name][0]) / 2
                report[f"trace.overhead_{name}"] = (traced[name][0] - base, unit.split()[0])
        # set-up: the traced repetition against the next, untraced one
        report["trace.overhead_setup_s"] = (self.setup[1] - self.setup[2], "s")
        return report

    def check(self) -> None:
        t0 = time.perf_counter()
        try:
            self.wl.check()
        except Exception as e:  # a check that cannot run counts as a failed one
            traceback.print_exc(file=sys.stderr)
            self.b.check("checks", False, repr(e))
        log(f"checks: {time.perf_counter() - t0:.2f} s")


def dump_spans(tracer, path: Path) -> None:
    with open(path, "w") as f:
        json.dump([s.__dict__ for s in tracer.spans], f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "cascading_hbase_spark" / "__init__.py").is_file():
        print(f"the engine package is not in this checkout ({ROOT})", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    prepare_env(work, cpus)

    run = Run(args, work, cpus)
    try:
        setup_s = run.set_up()
        e2e = run.phase()
        e2e["setup_s"] = (setup_s, "s")
        report = run.traced_phases(e2e) if args.trace else {}
        run.check()
    finally:
        stop_spark()

    b, name = run.b, args.workload
    for metric, (value, unit) in sorted(e2e.items()):
        print(f"e2e {name} {metric} = {value:.6g} {unit}")
    print(f"e2e {name} error_rate = {b.failed / b.attempted:.6g} "
          f"({b.failed} of {b.attempted} operations)")
    for metric, (value, unit) in sorted(report.items()):
        print(f"layer {name} {metric} = {value:.6g} {unit}")

    source, chosen = (report, PER_LAYER) if args.trace else (e2e, END_TO_END)
    missing = [m for m in chosen if m not in source]
    if missing:
        print(f"metrics not produced by this run: {missing}", file=sys.stderr)
        return 3
    metrics = {m: {"value": source[m][0], "unit": source[m][1].split()[0]} for m in chosen}
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
