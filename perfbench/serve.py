"""serve: a loaded keyed table with zone maps and an index on ``g``,
driven by one closed-loop client through a seeded mix of Zipf-skewed
multi-gets, range scans, index lookups and small hot-key upserts.  Each
upsert is followed by the maintenance cascade (index refresh, minor
compaction), so the reads that come after it see a current index and
one file per bucket."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from perfbench import gen, trace
from perfbench.harness import same_rows
from perfbench.ingest import space_amp
from perfbench.keyed_common import load_base, maintenance_cascade, upsert_flow
from perfbench.stats import median, tail

COLS = ("k", "v", "g", "seq", gen.DERIVED)
SCHEDULED = ("get", "scan", "index", "write")


class Serve:
    def __init__(self, b, sched: dict):
        from cascading_hbase_spark.keyed import index
        from cascading_hbase_spark.keyed import table as kt

        self.b, self.sched = b, sched
        self.kt, self.index = kt, index
        self.table = os.path.join(b.work, "served")
        self.cascade = maintenance_cascade(self.table, None)
        self.pos = 0
        self.results: list[tuple[dict, list]] = []  # (op, rows) in schedule order

    def load(self) -> None:
        load_base(self.b.spark, self.b.inputs, self.table, None, retain=3)

    def warm(self) -> None:
        for op in self.sched["warm"]:
            self._run(op)

    def step(self) -> None:
        """One block: the schedule's next 20 operations (fixed mix)."""
        if self.pos + self.sched["block"] > len(self.sched["ops"]):
            raise RuntimeError("serve schedule exhausted; generate more blocks")
        for _ in range(self.sched["block"]):
            self._run(self.sched["ops"][self.pos])
            self.pos += 1
            self.b.units += 1

    def _run(self, op: dict) -> None:
        b, spark, kind = self.b, self.b.spark, op["kind"]
        df = rows = None
        if kind == "write":
            before = trace.snapshot(self.table) if b.traced else None
            with b.op(kind):
                upsert_flow(b.inputs, op["path"], self.table).complete(spark)
                rows = []
            if before is not None:
                b.record_commit(self.table, before, os.path.join(b.inputs, op["path"]))
            with b.op("maintain"):
                self.cascade.complete(spark)
        else:
            with b.op(kind):
                with b.span(f"bench.{kind}.plan"):
                    if kind == "get":
                        df = self.kt.get_keyed(spark, self.table, op["keys"])
                    elif kind == "scan":
                        df = self.kt.read_keyed(spark, self.table, op["start"], op["stop"])
                    else:
                        df = self.index.index_lookup(spark, self.table, "g", op["value"])
                with b.span(f"bench.{kind}.exec"):
                    rows = df.select(*COLS).collect()
        if rows is not None:
            self.results.append((op, rows))
            if b.traced and df is not None:
                b.reads.append({"kind": kind, "files": len(df.inputFiles()), "rows": len(rows)})

    def end_to_end(self, wall: float, units: int) -> dict:
        lat = self.b.lat
        out = {
            "ops_per_s": (units / wall, "1/s"),
            "op_p50_ms": (median([x for k in SCHEDULED for x in lat[k]]) * 1e3, "ms"),
            "serve_ops_per_s": (units / wall, "1/s"),
            "get_p50_ms": (median(lat["get"]) * 1e3, "ms"),
            "scan_p50_ms": (median(lat["scan"]) * 1e3, "ms"),
            "index_lookup_p50_ms": (median(lat["index"]) * 1e3, "ms"),
            "serve_write_p50_s": (median(lat["write"]), "s"),
            "maintain_p50_s": (median(lat["maintain"]), "s"),
            "space_amp": (space_amp(self.table), "ratio"),
        }
        t = tail(lat["get"])
        if t:
            out["get_tail_ms"] = (t[0] * 1e3, f"ms p{t[1]:.0f} n={t[2]}")
        return out

    def check(self) -> None:
        """Replay the schedule over the base rows and compare every read
        with the state it should have seen at that point."""
        state = {r["k"]: r for r in self._rows(self.sched["base"])}
        for op, rows in self.results:
            kind = op["kind"]
            if kind == "write":
                for r in self._rows(op["path"]):
                    if r["seq"] >= state.get(r["k"], {"seq": -1})["seq"]:
                        state[r["k"]] = r
                continue
            if kind == "get":
                want = [state[k] for k in set(op["keys"]) if k in state]
            elif kind == "scan":
                want = [r for k, r in state.items() if op["start"] <= k < op["stop"]]
            else:
                want = [r for r in state.values() if r["g"] == op["value"]]
            expect = [(r["k"], r["v"], r["g"], r["seq"], gen.derived(r["v"])) for r in want]
            self.b.check(f"serve {kind}", *same_rows(rows, expect))

    def _rows(self, name: str) -> list[dict]:
        return pq.read_table(os.path.join(self.b.inputs, name)).to_pylist()
