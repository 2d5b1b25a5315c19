"""Run-time bookkeeping shared by the workloads: closed-loop operation
timing, failure counting, optional tracing, result comparison."""

from __future__ import annotations

import contextlib
import math
import os
import sys
import time
import traceback
from collections import defaultdict
from decimal import Decimal

from perfbench import trace as T


class Bench:
    """One run of one workload.  ``op`` times a closed-loop operation:
    the next one starts only after this one returns.  An exception
    inside an operation counts it as failed and the run goes on."""

    def __init__(self, spark, inputs_dir: str, work_dir: str, seconds: float):
        self.spark = spark
        self.inputs = inputs_dir
        self.work = work_dir
        self.seconds = seconds
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.tracer: T.Tracer | None = None
        self.jobs: T.JobCounter | None = None
        self.op_kind: dict[int, str] = {}
        self.commits: list[dict] = []   # fs diffs per keyed commit (traced)
        self.reads: list[dict] = []     # files/rows per read op (traced)
        self.units = 0            # the workload's unit operations completed
        self.unit_ops_traced = 0
        self._next_op = 0

    # --- tracing ------------------------------------------------------------
    @property
    def traced(self) -> bool:
        return self.tracer is not None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def start_tracing(self) -> None:
        from perfbench.layers import install

        self.tracer = T.Tracer()
        install(self.tracer)
        self.jobs = T.JobCounter(self.spark)

    def stop_tracing(self) -> None:
        self.tracer.uninstall()

    def record_commit(self, table: str, before: dict, input_path: str) -> None:
        """Filesystem diff of one keyed commit: new parquet files, their
        bytes and the buckets they land in."""
        new = {p: n for p, n in T.new_files(before, T.snapshot(table)).items()
               if p.endswith(".parquet")}
        self.commits.append({
            "files": len(new), "bytes": sum(new.values()),
            "buckets": len({p.split(os.sep)[0] for p in new}),
            "input_bytes": os.path.getsize(input_path),
        })

    # --- operations ---------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str):
        op = self._next_op
        self._next_op += 1
        self.attempted += 1
        if self.tracer:
            self.tracer.op = op
            self.op_kind[op] = kind
            self.jobs.begin(op)
        t0 = time.perf_counter()
        try:
            if self.tracer:
                with self.tracer.span(f"op.{kind}"):
                    yield op
            else:
                yield op
        except Exception:  # the run goes on; the operation counts as failed
            self.failed += 1
            print(f"operation {kind} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        else:
            self.lat[kind].append(time.perf_counter() - t0)
        finally:
            if self.tracer:
                self.jobs.end()
                self.tracer.op = None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """Record one untimed correctness check as an attempted operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what} {detail}", file=sys.stderr)

    def run_for(self, step) -> float:
        """Call ``step()`` until ``seconds`` have elapsed; a step is never
        cut short, so each run holds whole rounds of the op mix."""
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.seconds:
            step()
        return time.perf_counter() - t0


# --- result comparison --------------------------------------------------------
def _norm(v):
    return float(v) if isinstance(v, Decimal) else v


def _sort_key(row):
    return tuple(
        (0, "") if v is None
        else (1, round(v, 6)) if isinstance(v, float)
        else (1, v) if isinstance(v, (int, bool))
        else (2, str(v))
        for v in row
    )


def same_rows(actual, expected) -> tuple[bool, str]:
    """Order-insensitive row comparison with a float tolerance of 1e-6."""
    a = sorted((tuple(_norm(v) for v in r) for r in actual), key=_sort_key)
    e = sorted((tuple(_norm(v) for v in r) for r in expected), key=_sort_key)
    if len(a) != len(e):
        return False, f"rows: got {len(a)}, expected {len(e)}"
    for x, y in zip(a, e):
        if len(x) != len(y):
            return False, f"width: {x} vs {y}"
        for u, w in zip(x, y):
            if isinstance(u, float) or isinstance(w, float):
                if u is None or w is None or not math.isclose(u, w, rel_tol=1e-9, abs_tol=1e-6):
                    return False, f"value: {x} vs {y}"
            elif u != w:
                return False, f"value: {x} vs {y}"
    return True, ""
