"""Table catalog: load the driver-generated parquet tables for a scale
factor and register them as temp views.

Mirrors the reference's tap-binding step (``HBaseTap.java:135-139`` binds
a table name into the job conf) — here a table name binds to a parquet
path and Catalyst's DataSource handles splits, pushdown, and pruning
(reference did this by hand in ``TableInputFormatWrap.java:40-82``).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = ["TABLES", "load_table", "load_all", "register_views", "default_sf_dir"]

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load table ``name`` of the scale-factor directory ``sf_dir``."""
    # The harness may hand us a vanilla session; pin the timestamp
    # semantics our queries (and the DuckDB oracle) assume.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts arrives with a physical type that varies by how the
        # driver generated the parquet (TIMESTAMP(NANOS) -> bigint under
        # nanosAsLong, or TIMESTAMP_NTZ).  Normalize every variant to a
        # plain session-UTC TIMESTAMP — the dtype all oracles were
        # validated against, and the one time functions like
        # ``unix_micros`` accept.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # NTZ -> TZ is wall-clock-preserving under the pinned UTC
            # session zone.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` works too."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
