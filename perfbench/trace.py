"""Outside-in tracer: spans around calls into the engine's public
functions and methods, installed from the benchmark's own files.

Nothing inside the engine package changes.  ``Tracer.install`` swaps
each listed function or method for a wrapper that records a span
(name, start, end, parent, op id) and restores the originals on
``uninstall``.  A module-level function is replaced at every binding
the package's modules hold (``from x import f`` copies), so calls the
engine makes to its own public functions are spans too.  Spans stay in
memory until the run ends.

Spark job and task counts come from one job group per operation, read
back through ``statusTracker`` once the listener bus is drained.
Filesystem diffs give bytes and files written per commit.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, counts=None) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover.  With
    ``counts``, only children for which ``counts(child)`` is true are
    subtracted."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None and (counts is None or counts(s)):
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - covered(s.start, s.end, children.get(s.sid, ()))
        for s in spans
    }


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 self._stack[-1].sid if self._stack else None, self.op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # A recursive or delegating call to the same layer (Pipe.resolve
            # walking its parents, KeyedTable.write -> write_keyed) stays
            # inside the outer span instead of nesting a copy of it.
            if self._stack and self._stack[-1].name == name:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self._wrapper(orig, name))
        self._patches.append((cls, attr, orig))

    def wrap_function(self, fn, name: str, package: str) -> None:
        """Replace every binding of ``fn`` held by a loaded module of
        ``package`` with one traced wrapper."""
        traced = self._wrapper(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, traced)
                    self._patches.append((mod, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class JobCounter:
    """One Spark job group per operation; counts read back at the end."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: dict[int, str] = {}

    def begin(self, op: int) -> None:
        group = f"perfbench-op-{op}"
        self.groups[op] = group
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self) -> dict[int, tuple[int, int]]:
        """op -> (jobs, tasks run).  Drains the listener bus first so the
        status store has seen every job of the finished operations."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        out = {}
        for op, group in self.groups.items():
            jobs = st.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
            out[op] = (len(jobs), tasks)
        return out


def snapshot(root: str) -> dict[str, int]:
    """Relative path -> size of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def new_files(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    return {p: n for p, n in after.items() if p not in before}
