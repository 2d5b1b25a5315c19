"""Pieces the keyed-table workloads share: the initial load, the upsert
flow and the maintenance cascade."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from perfbench import gen

N_BUCKETS = 8
MIN_FILES = 1  # minor compaction: every bucket whose live generation holds more than one file


def load_base(spark, inputs: str, table: str, view: str | None, retain: int) -> None:
    """Bind the generated base file through the catalog, derive ``v2`` and
    create the keyed table (zone maps on ``v``), its index on ``g`` and,
    given ``view``, an aggregate view per ``g``.  ``retain`` must cover
    one maintenance interval so the view and the index catch up
    incrementally."""
    from cascading_hbase_spark import catalog
    from cascading_hbase_spark.keyed import index, matview
    from cascading_hbase_spark.keyed import table as kt

    base = catalog.load_table(spark, inputs, "base")
    base = base.withColumn(gen.DERIVED, F.expr(gen.DERIVED_EXPR))
    kt.write_keyed(base, table, "k", mode=kt.SinkMode.REPLACE, seq_col="seq",
                   n_buckets=N_BUCKETS, zone_cols=["v"], retain=retain)
    index.create_index(spark, table, "g", n_buckets=4)
    if view is not None:
        matview.create_aggregate_view(spark, table, view, "g", sums={"sum_v": "v"}, n_buckets=4)


def upsert_flow(inputs: str, name: str, table: str):
    """Flow(ParquetTap -> Each(ExpressionFunction) -> KeyedTableTap), APPEND."""
    from cascading_hbase_spark.operators.functions import ExpressionFunction
    from cascading_hbase_spark.operators.pipe import Each, Pipe
    from cascading_hbase_spark.operators.taps import KeyedTableTap, ParquetTap, SinkMode
    from cascading_hbase_spark.plans.cascade import Flow

    return Flow({"in": ParquetTap(os.path.join(inputs, name))},
                KeyedTableTap(table, "k", seq_col="seq"),
                Each(Pipe("in"), ["v"], ExpressionFunction(gen.DERIVED, gen.DERIVED_EXPR)),
                sink_mode=SinkMode.APPEND, name=f"upsert-{name}")


def maintenance_cascade(table: str, view: str | None):
    """Cascade of MaintenanceFlows: refresh the index, refresh the
    aggregate view (given ``view``), minor-compact the table.  The
    refreshes read the table the compaction writes, so the compaction
    must run first; the flows are listed the other way round so the sort
    has work to do."""
    from cascading_hbase_spark.keyed import index, matview
    from cascading_hbase_spark.keyed import table as kt
    from cascading_hbase_spark.operators.taps import KeyedTableTap
    from cascading_hbase_spark.plans.cascade import Cascade, MaintenanceFlow

    base = KeyedTableTap(table, "k")
    flows = [MaintenanceFlow({"t": base}, KeyedTableTap(index._index_path(table, "g"), "k"),
                             lambda s: index.refresh_index(s, table, "g"), name="refresh_index")]
    if view is not None:
        flows.append(MaintenanceFlow({"t": base}, KeyedTableTap(view, "g"),
                                     lambda s: matview.refresh_aggregate_view(s, table, view),
                                     name="refresh_aggregate_view"))
    flows.append(MaintenanceFlow({"t": base}, base,
                                 lambda s: kt.compact_keyed(s, table, min_files=MIN_FILES),
                                 name="compact_keyed"))
    return Cascade(flows)
