"""External keyed-store connector seam — the reference's actual
product surface (an HBase Tap/Scheme pair binding a dataflow engine to
an external keyed store) re-expressed for Spark DataFrames.

The reference split the connector three ways:

- lifecycle from the client (``HBaseTap.java:69-101`` — create/exists/
  drop through an admin connection);
- reads as pruned range scans (``TableInputFormatWrap.java:55-65`` —
  one split per region, regions outside [start, stop) pruned) with
  per-scheme column projection (``HBaseScheme.java:157-162``);
- writes as client-buffered upserts flushed per task
  (``TableOutputFormatWrap.java:40,66-69`` — auto-flush off, flush on
  close) plus sink-side deletes (``TableOutputFormatWrap.java:82``).

``KeyedStoreAdapter`` is that contract as one small interface.  The
engine's own parquet-backed keyed table is the default implementation
(``LocalKeyedStoreAdapter``), so every operator written against the
adapter runs unchanged when a real external store (HBase via Spark's
HBase integration, Cassandra, Bigtable, a JDBC MERGE target) is
plugged in — the port implements one class, exactly like the
control-plane seam one layer down.

What a REAL external-store implementation must honor (and where the
pattern lives in Spark): reads come back as a DataFrame whose source
pushes the range/projection down (a DataSource V2 or the store's
Spark connector — never ``collect`` + parallelize); writes go through
``df.write`` with the connector, or ``foreachPartition`` with a
buffered client flushed per partition — the exact
``TableOutputFormatWrap`` pattern, executor-side, never through the
driver.  ``MemoryKeyedStoreAdapter`` here is a CONTRACT-TEST DOUBLE
(driver-side dict, collect-based, bounded to test fixtures); it exists
so the contract suite (``tests/test_adapters.py``) runs against two
independent implementations and pins the semantics an external port
must reproduce — it is not a deployment target, and its docstring says
so loudly.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cascading_hbase_spark.keyed.table import (
    KeyedTable,
    SinkMode,
    delete_keyed,
    get_keyed,
    read_keyed,
    write_keyed,
)

__all__ = [
    "KeyedStoreAdapter",
    "LocalKeyedStoreAdapter",
    "MemoryKeyedStoreAdapter",
    "adapter_scan_filtered",
]


class KeyedStoreAdapter(ABC):
    """Connector contract for an external last-write-wins keyed store.

    Semantics every implementation must honor (the contract suite in
    ``tests/test_adapters.py`` enforces them against each registered
    implementation):

    - ``upsert`` is last-write-wins per key ACROSS calls (later batches
      win over earlier ones — ``MultiFamilyHBaseTest.java:57,71``'s 13
      tuples / 5 stored rows), and within a call the store keeps one
      row per key: the one with the highest non-key column tuple,
      nulls lowest — the keyed table's rule without ``seq_col``, so
      the result never depends on arrival order or partitioning;
    - ``scan(start, stop)`` is the half-open key range ``[start,
      stop)`` in the key's natural order, with ``fields`` projecting
      columns (the key is always included, mirroring
      ``HBaseScheme.java:157-162``'s key-prepended tuples);
    - ``get`` returns exactly the rows whose keys are in ``keys``;
    - ``delete`` removes the given keys; absent keys are not an error
      (``Delete`` on a missing row is a no-op in HBase too);
    - ``drop`` on a missing table is a no-op; ``create`` on an
      existing table is an error (lifecycle per HBaseTap.java:69-101).
    """

    #: name of the key column (set by the implementation)
    key: str

    # --- lifecycle ---------------------------------------------------

    @abstractmethod
    def exists(self) -> bool: ...

    @abstractmethod
    def create(self, df: DataFrame) -> None:
        """Create the table seeded with ``df`` (fails if it exists)."""

    @abstractmethod
    def drop(self) -> None: ...

    # --- read path ---------------------------------------------------

    @abstractmethod
    def scan(
        self,
        spark: SparkSession,
        start=None,
        stop=None,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Range scan over ``[start, stop)`` with column projection;
        both pushed into the store's split planning, never filtered
        post-hoc on the full table."""

    @abstractmethod
    def get(self, spark: SparkSession, keys: list) -> DataFrame:
        """Point multi-Get."""

    # --- write path --------------------------------------------------

    @abstractmethod
    def upsert(self, df: DataFrame) -> None:
        """Last-write-wins merge of ``df`` into the store."""

    @abstractmethod
    def delete(self, spark: SparkSession, keys: list) -> None: ...


class LocalKeyedStoreAdapter(KeyedStoreAdapter):
    """The engine's own keyed table as the adapter's default backend —
    range-bucketed parquet with manifest commits, so ``scan`` prunes
    buckets via the manifest's boundaries and ``upsert`` merges only
    touched buckets (both at executor parallelism)."""

    def __init__(self, path: str, key: str = "key",
                 seq_col: str | None = None):
        self.path = path
        self.key = key
        self.seq_col = seq_col

    def exists(self) -> bool:
        return KeyedTable(self.path, self.key).exists()

    def create(self, df: DataFrame) -> None:
        write_keyed(
            df, self.path, self.key, mode=SinkMode.KEEP,
            seq_col=self.seq_col,
        )

    def drop(self) -> None:
        KeyedTable(self.path, self.key).drop()

    def scan(self, spark, start=None, stop=None, fields=None) -> DataFrame:
        return read_keyed(spark, self.path, start, stop, fields)

    def get(self, spark, keys: list) -> DataFrame:
        # an empty key set is a legal operator input (a computed set
        # can be empty); contract: empty result, not an error
        if not keys:
            return self.scan(spark).limit(0)
        return get_keyed(spark, self.path, keys)

    def upsert(self, df: DataFrame) -> None:
        write_keyed(
            df, self.path, self.key, mode=SinkMode.APPEND,
            seq_col=self.seq_col,
        )

    def delete(self, spark, keys: list) -> None:
        if not keys:  # contract: no-op, like an absent key
            return
        delete_keyed(
            spark, self.path,
            spark.createDataFrame([(k,) for k in keys]).toDF(self.key),
        )


class MemoryKeyedStoreAdapter(KeyedStoreAdapter):
    """CONTRACT-TEST DOUBLE — NOT a deployment target.

    A driver-side dict standing in for an external store so the
    contract suite exercises the interface against a second,
    independent implementation.  It collects batches to the driver and
    is therefore bounded to test fixtures by construction; a real
    external port keeps both paths executor-side (DataFrame source
    with pushdown for reads; connector write or per-partition buffered
    client for writes — see the module docstring)."""

    def __init__(self, key: str = "key"):
        self.key = key
        self._rows: dict | None = None
        self._schema = None

    def exists(self) -> bool:
        return self._rows is not None

    def create(self, df: DataFrame) -> None:
        if self.exists():
            raise FileExistsError("memory store already exists")
        self._rows = {}
        self._schema = df.schema
        self.upsert(df)

    def drop(self) -> None:
        self._rows, self._schema = None, None

    def _require(self) -> dict:
        if self._rows is None:
            raise FileNotFoundError("memory store does not exist")
        return self._rows

    def scan(self, spark, start=None, stop=None, fields=None) -> DataFrame:
        rows = [
            r for k, r in sorted(self._require().items())
            if (start is None or k >= start) and (stop is None or k < stop)
        ]
        df = spark.createDataFrame(rows, self._schema)
        if fields:
            # key always included (HBaseScheme.java:157-162)
            cols = [self.key] + [c for c in fields if c != self.key]
            df = df.select(*cols)
        return df

    def get(self, spark, keys: list) -> DataFrame:
        store = self._require()
        rows = [store[k] for k in keys if k in store]
        return spark.createDataFrame(rows, self._schema)

    def upsert(self, df: DataFrame) -> None:
        store = self._require() if self.exists() else {}
        # within-batch LWW: rows go in ascending non-key tuple order, so
        # each key keeps its content-max row whatever the arrival order
        for r in sorted(df.collect(), key=self._content):
            store[r[self.key]] = r
        self._rows = store
        if self._schema is None:
            self._schema = df.schema

    def _content(self, row) -> tuple:
        """A row's non-key values in column order, nulls lowest and NaN
        highest, as Spark sorts them."""
        return tuple(
            (0,) if v is None else (2,) if v != v else (1, v)
            for c, v in row.asDict().items() if c != self.key
        )

    def delete(self, spark, keys: list) -> None:
        store = self._require()
        for k in keys:
            store.pop(k, None)


def adapter_scan_filtered(
    adapter: KeyedStoreAdapter,
    spark: SparkSession,
    start=None,
    stop=None,
    fields: list[str] | None = None,
    predicate: str | None = None,
) -> DataFrame:
    """Convenience composition: adapter range scan + a residual SQL
    predicate (the part of a filter the store cannot push down —
    applied by Spark after the pushed range/projection, exactly how
    the reference layered Cascading filters over the HBase scan)."""
    df = adapter.scan(spark, start, stop, fields)
    return df.filter(F.expr(predicate)) if predicate else df
