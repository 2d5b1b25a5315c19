"""analytic: passes over a generated TPC-H-shaped star schema.  Each
pass runs a Cascade of three pipe-assembly flows (listed in reverse
dependency order, one keyed sink and two parquet sinks), then five
registry queries in a seed-permuted order, each drained with the
``noop`` writer."""

from __future__ import annotations

import contextlib
import os
import time

import duckdb

from perfbench import gen, trace
from perfbench.harness import same_rows
from perfbench.stats import median

REV_EXPR = "l_extendedprice * (1 - l_discount)"


class Analytic:
    def __init__(self, b, sched: dict):
        from cascading_hbase_spark.keyed import table as kt
        from cascading_hbase_spark.operators.functions import Count, ExpressionFunction, Sum
        from cascading_hbase_spark.operators.pipe import CoGroup, Each, Every, GroupBy, Pipe, Retain
        from cascading_hbase_spark.operators.taps import KeyedTableTap, ParquetTap, SinkMode
        from cascading_hbase_spark.plans.cascade import Cascade, Flow
        from cascading_hbase_spark.queries import QUERIES

        self.b, self.sched, self.kt, self.queries = b, sched, kt, QUERIES
        self.pass_no = 0
        self.ran: list[list[str]] = []
        self.warm_results: dict[str, tuple] = {}  # query -> (columns, rows)
        src = lambda t: ParquetTap(os.path.join(b.inputs, f"{t}.parquet"))  # noqa: E731
        self.order_rev = os.path.join(b.work, "order_revenue")
        self.order_status = os.path.join(b.work, "order_status")
        self.status_summary = os.path.join(b.work, "status_summary")

        rev = Every(GroupBy(Each(Pipe("lineitem"), None, ExpressionFunction("rev", REV_EXPR)),
                            group_fields=["l_orderkey"]),
                    [Sum("rev", "revenue"), Count(declared="n_lines")])
        f1 = Flow({"lineitem": src("lineitem")}, KeyedTableTap(self.order_rev, "l_orderkey"),
                  rev, sink_mode=SinkMode.REPLACE, name="order_revenue")
        joined = Retain(CoGroup(Pipe("rev"), ["l_orderkey"], Pipe("orders"), ["o_orderkey"]),
                        ["l_orderkey", "revenue", "n_lines", "o_custkey", "o_orderstatus"])
        f2 = Flow({"rev": KeyedTableTap(self.order_rev, "l_orderkey"), "orders": src("orders")},
                  ParquetTap(self.order_status), joined, sink_mode=SinkMode.REPLACE,
                  name="order_status")
        summary = Every(GroupBy(Pipe("status"), group_fields=["o_orderstatus"]),
                        [Sum("revenue", "revenue"), Count(declared="n_orders")])
        f3 = Flow({"status": ParquetTap(self.order_status)}, ParquetTap(self.status_summary),
                  summary, sink_mode=SinkMode.REPLACE, name="status_summary")
        self.cascade = Cascade([f3, f2, f1])  # reversed: the sort must reorder them

    def load(self) -> None:
        """Inputs are plain parquet files; the catalog binds them lazily
        inside each query, so there is nothing to load up front."""

    def warm(self) -> None:
        self._pass(timed=False)

    def step(self) -> None:
        t0 = time.perf_counter()
        self._pass(timed=True)
        self.b.lat["pass"].append(time.perf_counter() - t0)
        self.b.units += 1

    def _pass(self, timed: bool) -> None:
        b, spark = self.b, self.b.spark
        order = self.sched["passes"][self.pass_no % len(self.sched["passes"])]
        self.pass_no += 1
        before = trace.snapshot(self.order_rev) if timed and b.traced else None
        with b.op("cascade") if timed else contextlib.nullcontext():
            self.ran.append(self.cascade.complete(spark))
        if before is not None:
            b.record_commit(self.order_rev, before, os.path.join(b.inputs, "lineitem.parquet"))
        for name in order:
            if not timed:  # warm-up: keep the results for the untimed checks
                df = self.queries[name](spark, b.inputs)
                self.warm_results[name] = (df.columns, df.collect())
                continue
            with b.op(f"query.{name}"):
                with b.span(f"queries.{name}.build"):
                    df = self.queries[name](spark, b.inputs)
                with b.span(f"queries.{name}.plan"):
                    df._jdf.queryExecution().executedPlan()
                with b.span(f"queries.{name}.exec"):
                    df.write.format("noop").mode("overwrite").save()

    def end_to_end(self, wall: float, units: int) -> dict:
        lat = self.b.lat
        return {
            "ops_per_s": (units / wall, "1/s"),
            "op_p50_ms": (median(lat["pass"]) * 1e3, "ms"),
            "analytic_pass_s": (median(lat["pass"]), "s"),
            "cascade_s": (median(lat["cascade"]), "s"),
        }

    def check(self) -> None:
        """Cascade sinks against DuckDB equivalents; the registry queries'
        warm-up results against the registry's DuckDB ``ORACLES``."""
        from cascading_hbase_spark.queries import ORACLES

        b, spark = self.b, self.b.spark
        b.check("cascade ran every flow in order",
                all(r == ["order_revenue", "order_status", "status_summary"] for r in self.ran),
                str(self.ran[-1:]))
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "orders", "lineitem",
                  "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(b.inputs, t + '.parquet')}')")
        con.execute(f"CREATE VIEW rev AS SELECT l_orderkey, sum({REV_EXPR}) AS revenue, "
                    "count(*) AS n_lines FROM lineitem GROUP BY l_orderkey")
        got = self.kt.read_keyed(spark, self.order_rev).select(
            "l_orderkey", "revenue", "n_lines").collect()
        b.check("cascade keyed sink", *same_rows(got, con.execute("SELECT * FROM rev").fetchall()))
        expect = con.execute(
            "SELECT l_orderkey, revenue, n_lines, o_custkey, o_orderstatus "
            "FROM rev JOIN orders ON l_orderkey = o_orderkey").fetchall()
        got = con.execute(
            f"SELECT * FROM read_parquet('{self.order_status}/*.parquet')").fetchall()
        b.check("cascade join sink", *same_rows(got, expect))
        expect = con.execute("SELECT o_orderstatus, sum(revenue), count(*) FROM rev "
                             "JOIN orders ON l_orderkey = o_orderkey GROUP BY 1").fetchall()
        got = con.execute(
            "SELECT o_orderstatus, revenue, n_orders "
            f"FROM read_parquet('{self.status_summary}/*.parquet')").fetchall()
        b.check("cascade summary sink", *same_rows(got, expect))
        for name in gen.ANALYTIC_QUERIES:
            columns, rows = self.warm_results[name]
            res = con.execute(ORACLES[name])
            names = [d[0] for d in res.description]
            if sorted(names) != sorted(columns):
                b.check(f"query {name}", False, f"columns {columns} vs {names}")
                continue
            pick = [names.index(c) for c in columns]
            expect = [tuple(r[i] for i in pick) for r in res.fetchall()]
            b.check(f"query {name}", *same_rows(rows, expect))
        con.close()

