"""Which engine entry points the traced run wraps, and the per-layer
metrics computed from the spans, job counts and filesystem diffs.

Layer -> end-to-end metric it should move (workload):
  session            session.start_s            -> setup_s (all)
  catalog            catalog.load_table_s       -> setup_s, analytic_pass_s (analytic)
  operators.taps     taps.read_s                -> commit_p50_s (ingest), cascade_s (analytic)
                     taps.write_self_s          -> commit_p50_s (ingest)
  operators.pipe     pipe.resolve_s             -> cascade_s (analytic), commit_p50_s (ingest)
  plans.cascade      cascade.self_s             -> cascade_s (analytic), maintain_p50_s (ingest)
  keyed.table write  keyed.write_s, keyed.*_per_commit, keyed.write_amp
                                                -> commit_p50_s, ingest_rows_per_s (ingest),
                                                   serve_write_p50_s (serve)
  keyed.table get    keyed.get_plan_ms, keyed.get_exec_ms, keyed.files_read_per_get,
                     keyed.get_rows_per_file_read -> get_p50_ms, get_tail_ms (serve)
  keyed.table scan   keyed.scan_plan_ms, keyed.scan_exec_ms, keyed.files_read_per_scan
                                                -> scan_p50_ms (serve)
  keyed.table compaction keyed.compact_s        -> maintain_p50_s, space_amp (ingest)
  keyed.index        index.refresh_s            -> maintain_p50_s (ingest)
                     index.lookup_plan_ms, index.lookup_exec_ms -> index_lookup_p50_ms (serve)
  keyed.matview      matview.refresh_s          -> maintain_p50_s (ingest)
  queries            queries.<name>.build_s/.plan_s/.exec_s -> analytic_pass_s (analytic)
  Spark engine       spark.jobs_per_<op>, spark.tasks_per_<op> -> that op's latency
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.stats import median
from perfbench.trace import self_times


PACKAGE = "cascading_hbase_spark"


def install(tracer) -> None:
    from cascading_hbase_spark import catalog
    from cascading_hbase_spark.keyed import index, matview
    from cascading_hbase_spark.keyed import table as kt
    from cascading_hbase_spark.operators import pipe, taps
    from cascading_hbase_spark.plans import cascade

    for cls, attr, name in (
        (taps.ParquetTap, "read", "taps.read"),
        (taps.ParquetTap, "write", "taps.write"),
        (taps.KeyedTableTap, "read", "taps.read"),
        (taps.KeyedTableTap, "write", "taps.write"),
        (pipe.Pipe, "resolve", "pipe.resolve"),
        (cascade.Flow, "complete", "flow.complete"),
        (cascade.MaintenanceFlow, "complete", "maintenance.complete"),
        (cascade.Cascade, "complete", "cascade.complete"),
        (kt.KeyedTable, "write", "keyed.write"),
        (kt.KeyedTable, "read", "keyed.read"),
    ):
        tracer.wrap_method(cls, attr, name)
    for fn, name in (
        (catalog.load_table, "catalog.load_table"),
        (kt.write_keyed, "keyed.write"),
        (kt.read_keyed, "keyed.read"),
        (kt.get_keyed, "keyed.get"),
        (kt.compact_keyed, "keyed.compact"),
        (kt.changefeed_keyed, "keyed.changefeed"),
        (index.refresh_index, "index.refresh"),
        (index.index_lookup, "index.lookup"),
        (matview.refresh_aggregate_view, "matview.refresh"),
    ):
        tracer.wrap_function(fn, name, PACKAGE)


def _med(xs, scale=1.0):
    m = median(xs)
    return None if m is None else m * scale


def layer_metrics(b, setup_tracer, session_start_s: float) -> dict[str, tuple]:
    """Every per-layer metric the traced run produced: name -> (value, unit).
    Spans count when recorded inside a timed operation, and for the
    set-up layers (session, catalog) also in the traced set-up repetition."""
    tr = b.tracer
    in_op = [s for s in tr.spans if s.op is not None]
    by_name = defaultdict(list)
    for s in in_op:
        by_name[s.name].append(s)

    def dur(name, scale=1.0):
        return _med([s.duration for s in by_name[name]], scale)

    out: dict[str, tuple] = {"session.start_s": (session_start_s, "s")}

    def put(name, value, unit):
        if value is not None:
            out[name] = (value, unit)

    put("catalog.load_table_s",
        _med([s.duration for s in by_name["catalog.load_table"] + setup_tracer.named("catalog.load_table")]),
        "s")
    put("taps.read_s", dur("taps.read"), "s")
    without_keyed = self_times(tr.spans, lambda s: s.name.startswith("keyed."))
    put("taps.write_self_s", _med([without_keyed[s.sid] for s in by_name["taps.write"]]), "s")
    put("pipe.resolve_s", dur("pipe.resolve"), "s")
    st = self_times(tr.spans)
    put("cascade.self_s", _med([st[s.sid] for s in by_name["cascade.complete"]]), "s")
    put("keyed.write_s", dur("keyed.write"), "s")
    put("keyed.compact_s", dur("keyed.compact"), "s")
    put("index.refresh_s", dur("index.refresh"), "s")
    put("matview.refresh_s", dur("matview.refresh"), "s")
    for op in ("get", "scan", "index"):
        layer = "index.lookup" if op == "index" else f"keyed.{op}"
        put(f"{layer}_plan_ms", dur(f"bench.{op}.plan", 1e3), "ms")
        put(f"{layer}_exec_ms", dur(f"bench.{op}.exec", 1e3), "ms")
    for name in sorted({s.name.rsplit(".", 1)[0] for s in in_op if s.name.startswith("queries.")}):
        for phase in ("build", "plan", "exec"):
            put(f"{name}.{phase}_s", dur(f"{name}.{phase}"), "s")

    if b.commits:
        put("keyed.buckets_touched_per_commit", median([c["buckets"] for c in b.commits]), "count")
        put("keyed.files_written_per_commit", median([c["files"] for c in b.commits]), "count")
        put("keyed.write_amp", median([c["bytes"] / c["input_bytes"] for c in b.commits]), "ratio")
    for kind in ("get", "scan"):
        reads = [r for r in b.reads if r["kind"] == kind]
        if reads:
            put(f"keyed.files_read_per_{kind}", median([r["files"] for r in reads]), "count")
    gets = [r for r in b.reads if r["kind"] == "get" and r["files"]]
    if gets:
        put("keyed.get_rows_per_file_read", median([r["rows"] / r["files"] for r in gets]), "ratio")

    counts = b.jobs.counts()
    per_kind = defaultdict(list)
    for op, (jobs, tasks) in counts.items():
        per_kind[b.op_kind[op]].append((jobs, tasks))
    for kind, vals in sorted(per_kind.items()):
        put(f"spark.jobs_per_{kind}", median([j for j, _ in vals]), "count")
        put(f"spark.tasks_per_{kind}", median([t for _, t in vals]), "count")
    unit_ops = max(1, b.unit_ops_traced)
    put("spark.jobs_per_op", sum(j for j, _ in counts.values()) / unit_ops, "count")
    put("spark.tasks_per_op", sum(t for _, t in counts.values()) / unit_ops, "count")
    return out


def self_time_breakdown(b) -> dict[str, tuple]:
    """Per operation kind: mean self time per operation of every span name
    inside it.  Self times partition an operation's span, so each kind's
    rows sum to its mean traced latency (``self.<kind>.total_ms``); the
    ``op.<kind>`` row is time outside every wrapped layer (the
    benchmark's own code and unwrapped engine code)."""
    tr = b.tracer
    st = self_times(tr.spans)
    per_kind: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tr.spans:
        if s.op is not None:
            per_kind[b.op_kind[s.op]][s.name] += st[s.sid]
    out = {}
    for kind, names in per_kind.items():
        n = sum(1 for k in b.op_kind.values() if k == kind)
        for name, total in names.items():
            out[f"self.{kind}.{name}_ms"] = (total / n * 1e3, "ms")
        out[f"self.{kind}.total_ms"] = (sum(names.values()) / n * 1e3, "ms")
    return out
