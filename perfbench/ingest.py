"""ingest: seeded upsert batches through Flow(ParquetTap -> Each ->
KeyedTableTap) into a keyed table with zone maps, an index and an
aggregate view; every few batches a Cascade of three MaintenanceFlows
(index refresh, view refresh, minor compaction) runs."""

from __future__ import annotations

import json
import os

import duckdb

from perfbench import gen, trace
from perfbench.harness import same_rows
from perfbench.keyed_common import load_base, maintenance_cascade, upsert_flow
from perfbench.stats import median, tail


class Ingest:
    def __init__(self, b, sched: dict):
        from cascading_hbase_spark.keyed import index, matview
        from cascading_hbase_spark.keyed import table as kt

        self.b, self.sched = b, sched
        self.kt, self.index, self.matview = kt, index, matview
        self.table = os.path.join(b.work, "base")
        self.view = os.path.join(b.work, "view_by_g")
        self.next_batch = 0
        self.committed: list[str] = []   # batch files whose commit was attempted
        self.cascade = maintenance_cascade(self.table, self.view)

    def load(self) -> None:
        load_base(self.b.spark, self.b.inputs, self.table, self.view,
                  retain=self.sched["maintain_every"] + 3)

    def warm(self) -> None:
        upsert_flow(self.b.inputs, self._next(), self.table).complete(self.b.spark)
        self.cascade.complete(self.b.spark)

    def _next(self) -> str:
        name = self.sched["batches"][self.next_batch]
        self.next_batch += 1
        self.committed.append(name)
        return name

    def step(self) -> None:
        """One round: ``maintain_every`` upsert commits, then maintenance."""
        b = self.b
        for _ in range(self.sched["maintain_every"]):
            name = self._next()
            flow = upsert_flow(b.inputs, name, self.table)
            before = trace.snapshot(self.table) if b.traced else None
            with b.op("commit"):
                flow.complete(b.spark)
            if before is not None:
                b.record_commit(self.table, before, os.path.join(b.inputs, name))
            b.units += 1
        with b.op("maintain"):
            self.cascade.complete(b.spark)

    def end_to_end(self, wall: float, units: int) -> dict:
        lat = self.b.lat
        out = {
            "ops_per_s": (len(lat["commit"]) / wall, "1/s"),
            "op_p50_ms": (median(lat["commit"]) * 1e3, "ms"),
            "ingest_rows_per_s": (len(lat["commit"]) * self.sched["batch_rows"] / wall, "1/s"),
            "commit_p50_s": (median(lat["commit"]), "s"),
            "maintain_p50_s": (median(lat["maintain"]), "s"),
            "space_amp": (space_amp(self.table), "ratio"),
        }
        t = tail(lat["commit"])
        if t:
            out["commit_tail_s"] = (t[0], f"s p{t[1]:.0f} n={t[2]}")
        return out

    def check(self) -> None:
        """Final table, view and index against a DuckDB ``arg_max(..., seq)``
        over the base file and every batch whose commit was attempted."""
        b, spark = self.b, self.b.spark
        self.cascade.complete(spark)  # bring view and index current first
        files = [os.path.join(b.inputs, n) for n in [self.sched["base"], *self.committed]]
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW latest AS SELECT k, arg_max(v, seq) AS v, arg_max(g, seq) AS g, "
            f"max(seq) AS seq FROM read_parquet({files!r}) GROUP BY k")
        expect = con.execute(f"SELECT k, v, g, seq, {gen.DERIVED_EXPR} FROM latest").fetchall()
        got = self.kt.read_keyed(spark, self.table).select("k", "v", "g", "seq", gen.DERIVED).collect()
        b.check("ingest table", *same_rows(got, expect))
        expect = con.execute("SELECT g, count(*), sum(v) FROM latest GROUP BY g").fetchall()
        got = self.matview.read_aggregate_view(spark, self.view).select("g", "n_rows", "sum_v").collect()
        b.check("ingest aggregate view", *same_rows(got, expect))
        for g in (0, gen.G_VALUES // 2, gen.G_VALUES - 1):
            expect = con.execute(f"SELECT k, v, seq FROM latest WHERE g = {g}").fetchall()
            got = self.index.index_lookup(spark, self.table, "g", g).select("k", "v", "seq").collect()
            b.check(f"ingest index g={g}", *same_rows(got, expect))
        con.close()


def space_amp(table: str) -> float:
    """Bytes on disk under the table / bytes of the parquet files the
    current manifest points at."""
    with open(os.path.join(table, "_kt_meta.json")) as f:
        live_dirs = tuple(f"_kt_bucket={b}/_kt_gen={g}/" for b, g in json.load(f)["gens"].items())
    files = trace.snapshot(table)
    live = sum(n for p, n in files.items() if p.endswith(".parquet") and p.startswith(live_dirs))
    return sum(files.values()) / live
