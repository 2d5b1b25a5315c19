"""Query registry: every operator from SURVEY.md §2 lands here as a
named (PySpark query, DuckDB oracle SQL) pair.

``__spark_entry__.queries()`` / ``oracle_sql()`` and ``bench.py`` read
this registry.  Registration is decorator-based so each module can
declare its pairs next to the implementation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
BENCH_QUERIES: list[str] = []


def query(name: str, oracle: str | None = None, bench: bool = False):
    """Register a (spark, sf_dir) -> DataFrame callable, optionally with
    a DuckDB oracle SQL string and bench-suite membership."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if bench:
            BENCH_QUERIES.append(name)
        return fn

    return deco


def _load_all() -> None:
    # Import for registration side effects.
    from cascading_hbase_spark.queries import windows  # noqa: F401
    from cascading_hbase_spark.queries import events  # noqa: F401
    from cascading_hbase_spark.queries import llm  # noqa: F401
    from cascading_hbase_spark.queries import multimodal  # noqa: F401
    from cascading_hbase_spark.queries import streaming  # noqa: F401
    from cascading_hbase_spark.queries import skew  # noqa: F401
    from cascading_hbase_spark.queries import core  # noqa: F401
    from cascading_hbase_spark.queries import joins  # noqa: F401
    from cascading_hbase_spark.queries import aggregates  # noqa: F401
    from cascading_hbase_spark.queries import tpch  # noqa: F401


_load_all()
