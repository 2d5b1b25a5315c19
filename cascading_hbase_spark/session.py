"""SparkSession factory tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
setting here is chosen to also hold on a multi-executor cluster at
~100 TB scale:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace any hand-tuned plan choices.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces.  At cluster scale this would be set to ~2-3x total cores.
- Arrow enabled so the (rare) Pandas-UDF paths move columnar batches,
  never pickled rows.
- Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_session", "default_parallelism"]


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(app_name: str = "cascading-hbase-spark", master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Let the planner pick shuffled-hash join when a per-partition
        # build side fits: SHJ skips both sort passes of sort-merge, and
        # the 64 MB AQE threshold below also rewrites planned sort-merge
        # joins to SHJ at runtime from measured partition sizes.  Risk:
        # the static preference decides from size estimates and SHJ's
        # build side does not spill, so a badly underestimated or skewed
        # build partition can OOM an executor.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64MB",
        )
    )
    return builder.getOrCreate()
