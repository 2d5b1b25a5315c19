#!/usr/bin/env python
"""Keyed-table maintenance bench (VERDICT r05 item 5): run the
maintenance-day lifecycle against an sf0.1-SIZED keyed table and record
per-step wall seconds — the scale evidence for the keyed layer that
pytest-scale tables (60 rows) cannot give.

Prints ONE JSON line and (when run via ``make`` semantics below) is
recorded as ``BENCH_KEYED.json``:

    {"metric": "keyed_maintenance_seconds", "value": <total>,
     "steps": {step: {"sec": s, ...detail}}, "n_rows": N, ...}

The check the steps encode: every maintenance operation's cost must
track TOUCHED buckets, not table size.  Two upsert waves make that
measurable — a narrow wave whose keys route to ~1 bucket and a wide
wave touching all buckets — plus point gets (bucket-pruned), a minor
compaction (fragmented buckets only) and a major re-bucketing
compaction (whole table, the only intentionally O(table) step).

Usage: python tools/bench_keyed.py [sf_dir]   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from cascading_hbase_spark.catalog import load_table  # noqa: E402
from cascading_hbase_spark.keyed.expectations import (  # noqa: E402
    Expectation,
    write_keyed_validated,
)
from cascading_hbase_spark.keyed.index import (  # noqa: E402
    create_index,
    index_lookup,
    index_range_lookup,
    refresh_index,
)
from cascading_hbase_spark.keyed.matview import (  # noqa: E402
    create_aggregate_view,
    refresh_aggregate_view,
)
from cascading_hbase_spark.keyed.replica import (  # noqa: E402
    create_replica,
    sync_replica,
)
from cascading_hbase_spark.keyed.table import (  # noqa: E402
    SinkMode,
    changefeed_keyed,
    compact_keyed,
    delete_keyed,
    describe_keyed,
    get_keyed,
    list_generations,
    merge_keyed,
    read_keyed,
    vacuum_keyed,
    write_keyed,
)
from cascading_hbase_spark.session import get_session  # noqa: E402

N_BUCKETS = 32


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    plane = os.environ.get("KT_PLANE", "localfs")
    if plane == "objectstore":
        # run the SAME lifecycle under the cloud-port plane: manifests
        # via conditional-PUT commit protocol (data files are written at
        # their final generation keys on every plane) — measures what
        # the object-store control plane costs vs the default.
        # r12: FILE-BACKED store (shared root, one flock per request)
        # so the changefeed streaming source's planning worker sees
        # the same manifests — the stream steps run on this plane too.
        from cascading_hbase_spark.keyed.controlplane import set_control_plane
        from cascading_hbase_spark.keyed.objectstore import (
            FileBackedObjectStore,
            ObjectStoreControlPlane,
        )

        set_control_plane(
            ObjectStoreControlPlane(
                FileBackedObjectStore(tempfile.mkdtemp(prefix="kt-os-"))
            )
        )
    spark = get_session("cascading-hbase-spark-bench-keyed")
    spark.sparkContext.setLogLevel("ERROR")

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    n_rows = orders.count()  # also warms footers so step 1 is honest
    max_key, price_p05 = orders.agg(
        F.max("o_orderkey"),
        F.expr("approx_percentile(o_totalprice, 0.05)"),
    ).collect()[0]

    base = tempfile.mkdtemp(prefix="bench-keyed-")
    path = os.path.join(base, "t")
    vpath = os.path.join(base, "v")
    rpath = os.path.join(base, "r")
    qdir = os.path.join(base, "q")

    steps: dict[str, dict] = {}

    def step(name: str, fn, **detail) -> None:
        t0 = time.perf_counter()
        out = fn()
        extra = out if isinstance(out, dict) else {}
        steps[name] = {
            "sec": round(time.perf_counter() - t0, 3),
            **detail,
            **extra,
        }

    # 1. CREATE: full orders load, zone maps on o_totalprice
    # retain=20: the lifecycle commits ~10 generations and the
    # changefeed step diffs from generation 0, so the whole history
    # must stay readable (production would keep retain small and diff
    # from a recent cursor; the wide retain is bench instrumentation).
    step(
        "create_full_load",
        lambda: write_keyed(
            orders, path, "o_orderkey", n_buckets=N_BUCKETS,
            zone_cols=["o_totalprice"], retain=20,
        ),
        rows=n_rows, buckets_touched=N_BUCKETS,
    )

    # 2. derived structures on the loaded snapshot
    step("create_index", lambda: create_index(spark, path, "o_orderpriority"))
    step(
        "create_matview",
        lambda: create_aggregate_view(
            spark, path, vpath, "o_orderstatus",
            sums={"revenue": "o_totalprice"},
        ),
    )
    step("create_replica", lambda: create_replica(spark, path, rpath))

    # 2b. STREAMING CDC maintenance (r11): seed an always-on follower
    #     and an always-on COUNT/SUM view NOW (at the loaded snapshot);
    #     their catch-up drains are measured after the write waves in
    #     step 6c — the continuous-maintenance twin of steps 5's
    #     scheduled refreshes.  r12: runs on EVERY plane — the source's
    #     planning worker rebuilds the control plane from the `plane`
    #     reader option (file-backed store under KT_PLANE=objectstore).
    stream_ok = True
    sfpath = os.path.join(base, "sf")
    sfckpt = os.path.join(base, "sfckpt")
    smvpath = os.path.join(base, "smv")
    smvckpt = os.path.join(base, "smvckpt")
    sixckpt = os.path.join(base, "sixckpt")
    if stream_ok:
        from cascading_hbase_spark import streaming as S

        step(
            "stream_follower_seed",
            lambda: S.stream_replica(
                spark, path, sfpath, sfckpt
            ).awaitTermination(),
        )
        step(
            "stream_matview_seed",
            lambda: S.stream_matview(
                spark, path, smvpath, smvckpt, "o_orderstatus",
                sums={"revenue": "o_totalprice"},
            ).awaitTermination(),
        )
        # the third streaming CDC consumer (r12): an always-on index
        # on a DIFFERENT column than the scheduled index steps, so the
        # two maintenance modes never contend for one index table
        step(
            "stream_index_seed",
            lambda: S.stream_index(
                spark, path, "o_orderstatus", sixckpt
            ).awaitTermination(),
        )

    # 3. NARROW upsert: a contiguous key slice routing to ~1 bucket.
    narrow = orders.filter(
        F.col("o_orderkey") <= F.lit(int(max_key / N_BUCKETS * 0.5))
    ).withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    n_narrow = narrow.count()
    step(
        "upsert_narrow_1bucket",
        lambda: write_keyed(narrow, path, "o_orderkey", mode=SinkMode.APPEND),
        rows=n_narrow,
    )

    # 3b. NARROW-interval incremental maintenance (r11): the diff these
    #     refreshes consume spans ONLY the narrow wave, so the pruned
    #     batch changefeed reads ~1 of 32 buckets — the O(touched
    #     buckets) claim, measured.  (The step-5 refreshes then span
    #     the wide wave: the all-buckets data point.)
    step(
        "sync_replica_narrow",
        lambda: sync_replica(spark, path, rpath),
    )
    step(
        "refresh_matview_narrow",
        lambda: refresh_aggregate_view(spark, path, vpath),
    )
    step(
        "refresh_index_narrow",
        lambda: refresh_index(spark, path, "o_orderpriority"),
    )

    # 4. WIDE upsert: every 10th key — touches all buckets.
    wide = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 2.0
    )
    n_wide = wide.count()
    step(
        "upsert_wide_allbuckets",
        lambda: write_keyed(wide, path, "o_orderkey", mode=SinkMode.APPEND),
        rows=n_wide, buckets_touched=N_BUCKETS,
    )

    # 5. incremental maintenance after the waves
    step("refresh_matview", lambda: refresh_aggregate_view(spark, path, vpath))
    step("refresh_index", lambda: refresh_index(spark, path, "o_orderpriority"))
    step("sync_replica", lambda: sync_replica(spark, path, rpath))

    # 6. reads: point gets (bucket-pruned), key-range scan, zone-pruned
    #    scan, index lookup
    some_keys = [int(max_key * f) or 1 for f in (0.1, 0.5, 0.9)]
    step(
        "point_get_3keys",
        lambda: {"rows": get_keyed(spark, path, some_keys).count()},
    )
    step(
        "range_scan_1pct",
        lambda: {
            "rows": read_keyed(
                spark, path, start=1, stop=int(max_key * 0.01)
            ).count()
        },
    )
    step(
        "zone_pruned_scan",
        lambda: {
            "rows": read_keyed(
                spark, path,
                zone_filter=("o_totalprice", 0.0, float(price_p05)),
            ).count()
        },
    )
    step(
        "index_lookup",
        lambda: {
            "rows": index_lookup(
                spark, path, "o_orderpriority", "1-URGENT"
            ).count()
        },
    )

    # 6a. RANGE + COVERING lookups (r12): a covering date index built
    #     at the CURRENT snapshot (so its create cost is measured on
    #     the post-wave table), then one month served INDEX-ONLY — the
    #     value range is a composite-key range under the v2
    #     order-preserving encoding, so the scan is bucket-pruned and
    #     never touches the main table's width
    import datetime as _dt

    dmin = orders.agg(F.min("o_orderdate")).collect()[0][0]
    step(
        "create_index_covering_date",
        lambda: create_index(
            spark, path, "o_orderdate", include=["o_totalprice"],
        ),
    )
    step(
        "index_range_lookup_covered_month",
        lambda: {
            "rows": index_range_lookup(
                spark, path, "o_orderdate",
                dmin + _dt.timedelta(days=30),
                dmin + _dt.timedelta(days=60),
                fields=["o_orderkey", "o_orderdate", "o_totalprice"],
            ).count()
        },
    )

    # 6a2. STATS-DRIVEN planning (r13): the ANALYZE job itself (counts
    #      + NDV + min/max, top-8 heavy hitters, 32-bin histograms —
    #      three scans total regardless of column count), then the
    #      access-path chooser serving a NARROW range through the
    #      index and a WIDE one through the scan from the SAME
    #      persisted stats.  The analyze commit is meta-only, so the
    #      fresh o_custkey index serves point-in-time through the
    #      data-fingerprint proof — the common analyze-after-index
    #      ordering, exercised at bench scale.
    from cascading_hbase_spark.keyed.stats import (
        analyze_keyed,
        auto_range_lookup,
    )

    step("create_index_custkey", lambda: create_index(spark, path, "o_custkey"))
    step(
        "analyze_stats_hh_hist",
        lambda: analyze_keyed(
            spark, path,
            columns=["o_custkey", "o_totalprice", "o_orderpriority"],
            heavy_hitters=8, histogram=32,
        ),
    )
    max_ck = int(orders.agg(F.max("o_custkey")).collect()[0][0])
    step(
        "auto_range_narrow_via_index",
        lambda: {
            "rows": auto_range_lookup(
                spark, path, "o_custkey", 1, max(2, int(max_ck * 0.02)),
                fields=["o_orderkey", "o_custkey"],
            ).count()
        },
    )
    step(
        "auto_range_wide_via_scan",
        lambda: {
            "rows": auto_range_lookup(
                spark, path, "o_custkey", 1, int(max_ck * 0.8),
                fields=["o_orderkey", "o_custkey"],
            ).count()
        },
    )

    # 6b. the SAME incremental chain as one ATOMIC transaction
    #     (keyed/txn.py) — measures the multi-table commit protocol's
    #     overhead vs step 5's sequential per-table commits: staging is
    #     in-memory, so the expected cost is one txn document write +
    #     re-pointed flips + the leases
    from cascading_hbase_spark.keyed.txn import multi_commit

    txn_wave = orders.filter(F.col("o_orderkey") % 10 == 5).withColumn(
        "o_totalprice", F.col("o_totalprice") + 4.0
    )
    n_txn = txn_wave.count()

    def _atomic_chain():
        with multi_commit([path, rpath, vpath]):
            write_keyed(txn_wave, path, "o_orderkey", mode=SinkMode.APPEND)
            sync_replica(spark, path, rpath)
            refresh_aggregate_view(spark, path, vpath)

    step("atomic_chain_txn", _atomic_chain, rows=n_txn,
         buckets_touched=N_BUCKETS)

    # 6c. STREAMING CDC catch-up: one checkpointed drain each across
    #     the three write waves (narrow + wide + txn) committed since
    #     the step-2b seeds — the per-batch cost the always-on
    #     deployment pays, O(touched buckets) for the diff plus
    #     O(changed keys / groups) for the merge/fold
    if stream_ok:
        step(
            "stream_follower_drain_3waves",
            lambda: S.stream_replica(
                spark, path, sfpath, sfckpt
            ).awaitTermination(),
        )
        step(
            "stream_matview_drain_3waves",
            lambda: S.stream_matview(
                spark, path, smvpath, smvckpt
            ).awaitTermination(),
        )
        step(
            "stream_index_drain_3waves",
            lambda: S.stream_index(
                spark, path, "o_orderstatus", sixckpt
            ).awaitTermination(),
        )

    # 7. validated ingest: 1% new keys, one expectation, rejects to
    #    quarantine
    dirty = (
        orders.filter(F.col("o_orderkey") % 100 == 3)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(max_key))
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 7 == 0, -1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
    )
    step(
        "validated_ingest_1pct",
        lambda: write_keyed_validated(
            dirty, path, "o_orderkey",
            [Expectation("price_nonneg", "o_totalprice >= 0.0")],
            quarantine_path=qdir,
        ),
    )

    # 8. MERGE with mixed ops + optimistic version gate
    merge_batch = (
        orders.filter(F.col("o_orderkey") % 100 == 7)
        .withColumn("_change", F.lit("update"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 3.0)
        .unionByName(
            orders.filter(F.col("o_orderkey") % 100 == 11).withColumn(
                "_change", F.lit("delete")
            )
        )
    )
    n_merge = merge_batch.count()
    step(
        "merge_mixed_2pct",
        lambda: merge_keyed(spark, path, merge_batch),
        rows=n_merge,
    )

    # 9. delete 1% of keys
    dels = orders.filter(F.col("o_orderkey") % 100 == 42).select("o_orderkey")
    n_dels = dels.count()
    step("delete_1pct", lambda: delete_keyed(spark, path, dels), rows=n_dels)

    # 10. changefeed across the whole session's history
    gens = list_generations(path)
    step(
        "changefeed_full_history",
        lambda: {
            "rows": changefeed_keyed(spark, path, gens[0]).count(),
            "generations": len(gens),
        },
    )

    # 11. compactions: minor (fragmented buckets only) then major
    #     re-bucket (whole table, intentionally O(table))
    step("compact_minor", lambda: compact_keyed(spark, path, min_files=1))
    # 11a. bring every consumer current FIRST, so the step-11c diffs
    #      straddle the re-bucket with only one narrow wave inside —
    #      the clean measurement of VERDICT r11 item 1 (these catchup
    #      diffs themselves span the ingest/merge/delete waves +
    #      the minor compaction's pointer moves: wide by nature)
    step("sync_replica_catchup", lambda: sync_replica(spark, path, rpath))
    step(
        "refresh_matview_catchup",
        lambda: refresh_aggregate_view(spark, path, vpath),
    )
    step(
        "refresh_index_catchup",
        lambda: refresh_index(spark, path, "o_orderpriority"),
    )
    step(
        "compact_major_rebucket",
        lambda: compact_keyed(spark, path, n_buckets=N_BUCKETS),
        buckets_touched=N_BUCKETS,
    )
    # 11c. NARROW wave + incremental maintenance ACROSS the re-bucket
    #      boundary (r12): before keyed/cdc_prune.py, one re-bucket
    #      forced every CDC consumer's next diff to read BOTH full
    #      snapshots — the last O(table) cliff in the maintenance hot
    #      path.  Now the diff walks the re-bucket's content-
    #      preservation hint and reads only the buckets (on each side,
    #      in each side's own bucket space) that the narrow wave's key
    #      range touches.
    narrow2 = orders.filter(
        F.col("o_orderkey") <= F.lit(int(max_key / N_BUCKETS * 0.5))
    ).withColumn("o_totalprice", F.col("o_totalprice") + 5.0)
    step(
        "upsert_narrow_after_rebucket",
        lambda: write_keyed(narrow2, path, "o_orderkey",
                            mode=SinkMode.APPEND),
        rows=n_narrow,
    )
    step(
        "sync_replica_across_rebucket",
        lambda: sync_replica(spark, path, rpath),
    )
    step(
        "refresh_matview_across_rebucket",
        lambda: refresh_aggregate_view(spark, path, vpath),
    )
    step(
        "refresh_index_across_rebucket",
        lambda: refresh_index(spark, path, "o_orderpriority"),
    )

    # 12. observability + GC
    step("describe", lambda: {"rows": describe_keyed(spark, path).count()})
    step("vacuum", lambda: vacuum_keyed(path, retain=1))

    # final integrity: count after the full lifecycle
    final_rows = read_keyed(spark, path).count()

    total = round(sum(s["sec"] for s in steps.values()), 3)
    print(
        json.dumps(
            {
                "metric": "keyed_maintenance_seconds",
                "value": total,
                "unit": "sec",
                "plane": plane,
                "sf_dir": sf_dir,
                "n_rows": n_rows,
                "n_buckets": N_BUCKETS,
                "final_rows": final_rows,
                "steps": steps,
            }
        )
    )
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
