#!/usr/bin/env python
"""Held vs parquet ``get_keyed`` across table sizes: the measurement
behind the held-generation bounds in ``keyed/table.py`` (``_HOLD_ROWS``,
``_HOLD_BYTES``).

For each bucket count and row count it writes a (k, v, g, seq) bigint
table like ``perfbench``'s ``serve`` table, then times gets of 1-10
random keys, interleaving a get served from held generations with one
forced onto the pruned parquet read (bounds lifted / ``_held_rows``
off).  Per size it prints one JSON line: the p50 and quartiles of each
path, the cold first fill against a cold parquet get, the held rows'
heap (Spark's ``SizeEstimator``, and the driver's used heap after a GC)
and the parquet bytes.

Usage: python tools/held_get_crossover.py [--rows 20000,50000,100000]
           [--buckets 4,8] [--gets 15] [--dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from cascading_hbase_spark.keyed import table as kt  # noqa: E402
from cascading_hbase_spark.session import get_session  # noqa: E402


def _ms(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1e3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", default="20000,50000,100000,200000")
    ap.add_argument("--buckets", default="4,8")
    ap.add_argument("--gets", type=int, default=15)
    ap.add_argument("--dir", default=None)
    args = ap.parse_args()
    spark = get_session("held-get-crossover")
    jvm = spark.sparkContext._jvm
    runtime = jvm.java.lang.Runtime.getRuntime()
    root = args.dir or tempfile.mkdtemp(prefix="held_get_")
    os.makedirs(root, exist_ok=True)
    held_rows = kt._held_rows
    # lift the bounds: the held side must hold every size measured
    kt._HOLD_BYTES = kt._HOLD_TABLE_BYTES = 1 << 40
    kt._HOLD_ROWS = 2**31 - 2  # the fill's limit takes an int

    def get(path, keys, held):
        kt._held_rows = held_rows if held else (lambda *a: None)
        return _ms(lambda: kt.get_keyed(spark, path, keys).collect())

    for nb in (int(b) for b in args.buckets.split(",")):
        for n in (int(r) for r in args.rows.split(",")):
            path = os.path.join(root, f"t_{n}_{nb}")
            shutil.rmtree(path, ignore_errors=True)
            df = spark.range(n).select(
                (F.col("id") * 2).alias("k"),
                (F.col("id") * 7919 % 1000000).alias("v"),
                (F.col("id") % 50).alias("g"),
                F.col("id").alias("seq"),
            )
            kt.write_keyed(df, path, "k", n_buckets=nb, seq_col="seq", zone_cols=["v"])
            rng = random.Random(n)
            gets = [
                [rng.randrange(n) * 2 for _ in range(rng.randint(1, 10))]
                for _ in range(args.gets)
            ]
            kt._HELD.clear()
            kt._REFUSED.clear()
            cold_parquet = get(path, gets[0], held=False)
            jvm.System.gc()
            base = runtime.totalMemory() - runtime.freeMemory()
            cold_fill = get(path, gets[0], held=True)
            heap = sum(e[3] for e in kt._HELD.values())
            jvm.System.gc()
            used = runtime.totalMemory() - runtime.freeMemory() - base
            meta = kt._load_meta(path)
            listed = (
                kt._read_raw(spark, path, meta)._jdf.queryExecution()
                .analyzed().stats().sizeInBytes()
            )
            held, parquet = [], []
            for keys in gets:
                held.append(get(path, keys, held=True))
                parquet.append(get(path, keys, held=False))
            print(json.dumps({
                "rows": n, "buckets": nb,
                "held_p50_ms": round(statistics.median(held), 1),
                "parquet_p50_ms": round(statistics.median(parquet), 1),
                "held_quartiles_ms": [round(q, 1) for q in statistics.quantiles(held, n=4)],
                "parquet_quartiles_ms": [round(q, 1) for q in statistics.quantiles(parquet, n=4)],
                "cold_fill_ms": round(cold_fill, 1),
                "cold_parquet_ms": round(cold_parquet, 1),
                "heap_estimate_mb": round(heap / 2**20, 1),
                "heap_after_gc_mb": round(used / 2**20, 1),
                "parquet_mb": round(listed / 2**20, 2),
            }), flush=True)
            kt._HELD.clear()
            shutil.rmtree(path, ignore_errors=True)
    kt._held_rows = held_rows
    spark.stop()


if __name__ == "__main__":
    main()
