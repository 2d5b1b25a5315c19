"""Core operator pairs: the reference's own [R] keyed-table semantics,
the §2.2 row-wise pipe functions, §2.6 set ops, and §2.8 scalar surface.

Every query is Catalyst-native (no Python UDFs) so filters/projections
push to the parquet scan and whole-stage codegen covers the row-wise
work; these all scale linearly with partitions at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cascading_hbase_spark.catalog import load_table
from cascading_hbase_spark.queries import query

# ---------------------------------------------------------------------------
# [R] keyed-table semantics (HBaseScheme/HBaseTap surface)
# ---------------------------------------------------------------------------


@query(
    "keyed_upsert_lww",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
    FROM (
      SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC,
                                         l_quantity DESC, l_extendedprice DESC) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
    bench=True,
)
def keyed_upsert_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins collapse by row key — the reference's defining
    non-relational semantic (13 tuples -> 5 rows keyed on ``num``,
    MultiFamilyHBaseTest.java:57,71).  ``l_linenumber`` is the explicit
    write-order tiebreak standing in for the HBase cell timestamp
    (HBaseScheme.java:127)."""
    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) alone is not unique in the synthetic
    # data; the write-order tiebreak must extend over EVERY output
    # column to be total — (linenumber, partkey, suppkey) was observed
    # colliding at sf0.001 with differing quantity/price, which leaves
    # the winner engine-dependent.  max_by over a struct ordering key
    # instead of a row_number window: struct-typed max_by plans as a
    # partial SortAggregate (map-side combine, so ONE ROW PER KEY
    # shuffles, plus a partition-local sort on the group key), where
    # the window form shuffles and sorts EVERY input row.
    order = F.struct(
        "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice",
    )
    winner = F.max_by(
        F.struct("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"), order
    )
    return (
        li.groupBy("l_orderkey")
        .agg(winner.alias("w"))
        .select("l_orderkey", "w.l_partkey", "w.l_suppkey", "w.l_quantity", "w.l_extendedprice")
    )


@query(
    "keyed_range_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_orderkey >= 100 AND l_orderkey < 500
    """,
)
def keyed_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan with start/stop row (HBaseScheme.java:54,61,77;
    TableInputFormatWrap.java:55-65 prunes regions outside the range).
    As a key predicate this reaches the parquet scan as a pushed filter
    and prunes row groups via min/max stats — same pruning, no custom
    split code."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_orderkey") >= 100) & (F.col("l_orderkey") < 500)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "keyed_delete_antijoin",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    """,
)
def keyed_delete_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete support in the sink (TableOutputFormatWrap.java:82 Delete
    dispatch) re-expressed as an anti-join rewrite: stored rows minus
    the delete set."""
    orders = load_table(spark, sf_dir, "orders")
    deletes = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return orders.join(deletes, "o_orderkey", "left_anti").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "adapter_copy_flow",
    oracle="""
    SELECT o_custkey, last_orderkey, last_price, price_band
    FROM (
      SELECT o_custkey,
             o_orderkey AS last_orderkey,
             o_totalprice AS last_price,
             CASE WHEN o_totalprice >= 330000 THEN 'high'
                  WHEN o_totalprice >= 150000 THEN 'mid'
                  ELSE 'low' END AS price_band,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY (o_orderkey % 2) DESC, o_orderkey DESC
             ) AS rn
      FROM orders
      WHERE o_orderkey >= 256 AND o_orderkey < 20000
    ) WHERE rn = 1
    """,
)
def adapter_copy_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's copy-flow — its actual product surface
    (HBaseTap.java:26 + HBaseScheme.java:52) — end-to-end through the
    external keyed-store connector seam: seed a source store through
    ``AdapterTap`` (SinkMode.KEEP = create, HBaseTap.java:123-132),
    pruned half-open range scan with key-included projection
    (TableInputFormatWrap.java:55-65, HBaseScheme.java:157-162), a
    pipe ``ExpressionFunction`` in the middle
    (MultiFamilyCascadeHBaseTest.java:62), then TWO upsert batches into
    a second store — across calls the later batch wins per key, within
    a batch the registered ``seq_col`` orders (the HBase cell-timestamp
    analogue, HBaseScheme.java:127) — and a read-back with field
    projection.  The oracle reproduces the batch-then-seq LWW order as
    ``(last_orderkey % 2) DESC, last_orderkey DESC`` because the even
    batch is written first.  Scale: both stores are the engine's
    range-bucketed keyed tables (scan prunes buckets, upsert rewrites
    only touched buckets); a real external store swaps in via one
    adapter class with the same plan shape."""
    import tempfile

    from cascading_hbase_spark.keyed.adapters import LocalKeyedStoreAdapter
    from cascading_hbase_spark.keyed.table import SinkMode
    from cascading_hbase_spark.operators.functions import ExpressionFunction
    from cascading_hbase_spark.operators.pipe import Each, Pipe
    from cascading_hbase_spark.operators.taps import AdapterTap

    root = tempfile.mkdtemp(prefix="chs_adapter_flow_")
    src = LocalKeyedStoreAdapter(f"{root}/src", "o_orderkey")
    dst = LocalKeyedStoreAdapter(
        f"{root}/dst", "o_custkey", seq_col="last_orderkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    AdapterTap(src).write(orders, SinkMode.KEEP)
    scanned = AdapterTap(
        src, start=256, stop=20000, fields=["o_custkey", "o_totalprice"]
    ).read(spark)
    banded = Each(
        Pipe("scan"),
        None,
        ExpressionFunction(
            "price_band",
            "CASE WHEN o_totalprice >= 330000 THEN 'high' "
            "WHEN o_totalprice >= 150000 THEN 'mid' ELSE 'low' END",
        ),
    )
    out = banded.resolve({"scan": scanned}).select(
        F.col("o_custkey"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").alias("last_price"),
        "price_band",
    )
    sink = AdapterTap(dst)
    sink.write(out.filter(F.col("last_orderkey") % 2 == 0), SinkMode.APPEND)
    sink.write(out.filter(F.col("last_orderkey") % 2 == 1), SinkMode.APPEND)
    return AdapterTap(
        dst, fields=["last_orderkey", "last_price", "price_band"]
    ).read(spark)


@query(
    "atomic_maintenance_chain",
    oracle="""
    SELECT o_custkey % 100 AS grp,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents_total
    FROM orders
    GROUP BY 1
    """,
)
def atomic_maintenance_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table ATOMIC maintenance chain (r10, ``keyed/txn.py``):
    ingest a delta into the primary, sync its replica, and refresh the
    replica's aggregate view — three keyed tables, ONE transaction
    (staged manifests, a single atomic decision document, healed
    flips).  The returned view must equal a from-scratch aggregation
    of ALL orders, which only holds if the full chain landed: a lost
    sync or refresh would leave the delta missing from the view.
    Integer-cents totals keep the incremental float-free: since r11
    the matview maintains integral-source SUMs in BIGINT accumulators
    (``keyed/matview._acc_type``), so ``cents_total`` comes back as a
    true long — exact at any scale, and dtype-identical to the BIGINT
    oracle (the r10 red row was this pair returning an all-double
    view sum against the BIGINT oracle)."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.matview import (
        create_aggregate_view,
        read_aggregate_view,
        refresh_aggregate_view,
    )
    from cascading_hbase_spark.keyed.replica import (
        create_replica,
        sync_replica,
    )
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed
    from cascading_hbase_spark.keyed.txn import multi_commit

    root = tempfile.mkdtemp(prefix="chs_txn_chain_")
    primary = os.path.join(root, "primary")
    replica = os.path.join(root, "replica")
    view = os.path.join(root, "view")
    k = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 100).alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    write_keyed(orders.filter(k % 4 != 3), primary, "o_orderkey", retain=10)
    create_replica(spark, primary, replica)
    create_aggregate_view(
        spark, replica, view, "grp", {"cents_total": "cents"}
    )
    with multi_commit([primary, replica, view]):
        write_keyed(
            orders.filter(k % 4 == 3), primary, "o_orderkey",
            mode=SinkMode.APPEND,
        )
        sync_replica(spark, primary, replica)
        refresh_aggregate_view(spark, replica, view)
    return read_aggregate_view(spark, view).select(
        "grp", "n_rows", "cents_total"
    )


@query(
    "index_incremental_lookup",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT)
             * (CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 5
                THEN 2 ELSE 1 END) AS cents
    FROM orders
    WHERE o_orderkey % 7 <> 0
      AND (CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 0
           THEN '1-URGENT' ELSE o_orderpriority END) = '1-URGENT'
    """,
)
def index_incremental_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL secondary-index maintenance end-to-end (r11,
    ``keyed/index.refresh_index``): seed a keyed table and its
    equality index, then commit one mixed wave — inserts, updates that
    MOVE the indexed value, updates that do NOT touch it (index-silent
    by the null-safe value filter), and deletes — and refresh.  The
    refresh applies only the changefeed delta (one MERGE commit, never
    a rebuild), and ``index_lookup`` through the refreshed index must
    return exactly the rows a full-scan filter over the final snapshot
    would — which the oracle computes from first principles."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import (
        create_index,
        index_lookup,
        refresh_index,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode,
        delete_keyed,
        write_keyed,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="chs_idx_"), "t")
    k = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    seed = orders.filter(k % 4 != 3)
    write_keyed(seed, path, "o_orderkey", retain=10)                   # v1
    create_index(spark, path, "prio")
    wave = (
        orders.filter(k % 4 == 3)  # inserts
        .unionByName(  # value-moving updates (disjoint: %10==0 is even)
            seed.filter(k % 10 == 0).withColumn("prio", F.lit("1-URGENT"))
        )
        .unionByName(  # index-silent updates (cents only)
            seed.filter((k % 10 == 5) & (k % 4 != 3))
            .withColumn("cents", F.col("cents") * 2)
        )
    )
    write_keyed(wave, path, "o_orderkey", mode=SinkMode.APPEND)        # v2
    delete_keyed(spark, path, orders.filter(k % 7 == 0).select("o_orderkey"))  # v3
    refresh_index(spark, path, "prio")  # incremental: (v1, v3] delta only
    return index_lookup(spark, path, "prio", "1-URGENT").select(
        "o_orderkey", "cents"
    )


@query(
    "analyze_heavy_hitters",
    oracle="""
    SELECT o_orderpriority AS value, COUNT(*) AS n
    FROM orders
    GROUP BY 1
    ORDER BY n DESC, value ASC
    LIMIT 3
    """,
)
def analyze_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted HEAVY-HITTER statistics (r12, ``analyze_keyed(
    heavy_hitters=K)``): the top-K values by frequency per analyzed
    column, stored in the manifest under a count-desc/value-asc TOTAL
    order (ties never make the stored list engine-dependent), read
    back without touching data.  These are what
    ``suggest_salt_factor`` turns into a measured salt factor for the
    skew-handling operators instead of a guessed one."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.stats import analyze_keyed, table_stats
    from cascading_hbase_spark.keyed.table import write_keyed

    path = os.path.join(tempfile.mkdtemp(prefix="chs_hh_"), "t")
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("prio")
    )
    write_keyed(t, path, "o_orderkey")
    analyze_keyed(spark, path, columns=["prio"], heavy_hitters=3)
    hh = table_stats(path)["columns"]["prio"]["heavy_hitters"]
    return spark.createDataFrame(
        [(e["value"], e["count"]) for e in hh], "value string, n bigint"
    )


@query(
    "index_in_list_lookup",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
    """,
)
def index_in_list_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WHERE col IN (...)`` through the secondary index (r12,
    ``keyed/index.index_in_lookup``): one tight prefix range scan per
    distinct probe value, unioned — O(sum of matching rows), with the
    duplicate probe deduped before planning.  The semi-join fetch path
    (fields not covered) resolves the hits against the pinned main
    snapshot."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import (
        create_index,
        index_in_lookup,
    )
    from cascading_hbase_spark.keyed.table import write_keyed

    path = os.path.join(tempfile.mkdtemp(prefix="chs_idxin_"), "t")
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    write_keyed(t, path, "o_orderkey")
    create_index(spark, path, "prio")
    return index_in_lookup(
        spark, path, "prio", ["1-URGENT", "3-MEDIUM", "1-URGENT"],
        fields=["o_orderkey", "cents"],
    )


@query(
    "auto_salted_agg",
    oracle="""
    WITH t AS (
        SELECT CASE WHEN o_orderkey % 10 < 5 THEN 'HOT'
                    ELSE CAST(o_orderkey % 100 AS VARCHAR) END AS grp,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT grp,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           COUNT(cents) AS n_rows,
           MAX(cents) AS max_cents
    FROM t GROUP BY grp
    """,
)
def auto_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATS-DRIVEN salting as the default planning path (r13, VERDICT
    r12 item 1): ``analyze_keyed(heavy_hitters=K)`` measures that the
    'HOT' group owns half the rows, and ``salted_two_phase_agg(
    n_salt="auto", stats_path=...)`` resolves the salt factor from
    that PERSISTED measurement — ``ceil(top_share x
    shuffle.partitions)`` — instead of a guessed constant; the same
    call against balanced stats plans the single-phase aggregate
    (plan-asserted in ``tests/test_stats.py``).  This is the
    reference's own planning story — consult stored server metadata at
    plan time (TableInputFormatWrap.java:46-66) — promoted from an
    opt-in lookup to the operator's default.  Results are exactly the
    direct GROUP BY's, which is what the oracle recomputes."""
    import os
    import tempfile

    from cascading_hbase_spark.functions.skew import salted_two_phase_agg
    from cascading_hbase_spark.keyed.stats import analyze_keyed
    from cascading_hbase_spark.keyed.table import read_keyed, write_keyed

    path = os.path.join(tempfile.mkdtemp(prefix="chs_asalt_"), "t")
    t = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 10 < 5, F.lit("HOT"))
        .otherwise((F.col("o_orderkey") % 100).cast("string"))
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    write_keyed(t, path, "k")
    analyze_keyed(spark, path, columns=["grp"], exact=True, heavy_hitters=4)
    return salted_two_phase_agg(
        read_keyed(spark, path),
        ["grp"],
        {
            "total_cents": ("sum", "cents"),
            "n_rows": ("count", "cents"),
            "max_cents": ("max", "cents"),
        },
        n_salt="auto",
        stats_path=path,
    )


@query(
    "stats_broadcast_join",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT o_orderpriority AS prio,
               CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_rank
        FROM orders
    )
    SELECT o.o_orderkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
           d.prio_rank
    FROM orders o JOIN dim d ON d.prio = o.o_orderpriority
    """,
)
def stats_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATS-DRIVEN broadcast decision (r13, VERDICT r12 item 1):
    the dim is a keyed table whose PERSISTED stats (row count x
    estimated row width from the stored min/max forms) say it fits the
    broadcast budget, so ``stats_hinted_join`` plans an explicit
    ``F.broadcast`` — the fact side never shuffles — without touching
    the dim's data at plan time.  Stale stats conservatively shuffle
    (a grown dim must never OOM the build side); the plan flip is
    asserted in ``tests/test_stats.py::test_broadcast_advice_flips_
    join_plan``.  Rows are identical either way, which is what the
    oracle checks."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.stats import (
        analyze_keyed,
        stats_hinted_join,
    )
    from cascading_hbase_spark.keyed.table import write_keyed

    dim_path = os.path.join(tempfile.mkdtemp(prefix="chs_bcast_"), "dim")
    orders = load_table(spark, sf_dir, "orders")
    dim = orders.select(
        F.col("o_orderpriority").alias("prio")
    ).distinct().withColumn(
        "prio_rank", F.substring("prio", 1, 1).cast("int")
    )
    write_keyed(dim, dim_path, "prio")
    analyze_keyed(spark, dim_path, exact=True)
    fact = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return stats_hinted_join(spark, fact, dim_path, on="prio").select(
        "o_orderkey", "cents", "prio_rank"
    )


@query(
    "auto_range_lookup",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE CAST(round(o_totalprice * 100) AS BIGINT)
            BETWEEN 1000000 AND 2000000
       OR CAST(round(o_totalprice * 100) AS BIGINT)
            BETWEEN 10000000 AND 45000000
    """,
)
def auto_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATS-DRIVEN access-path choice (r13, ``keyed/stats.py``): the
    classic optimizer decision — secondary index vs table scan for a
    range predicate — taken from PERSISTED metadata only (stats stamp
    + index manifest, zero data reads at plan time), the reference's
    consult-server-metadata planning story
    (TableInputFormatWrap.java:46-66) promoted to access-path
    selection.  The NARROW money range (~2% of the analyzed [min,max]
    span) serves through the secondary index — one pruned index
    key-range scan, O(matching rows); the WIDE range (~70%) serves
    through the zone-pruned main scan — one pushed-filter pass.  The
    query SELF-ASSERTS each branch's physical access path via
    ``inputFiles()`` (index files present / absent), so the driver
    verdict covers the plan flip, not just row parity; the index is
    usable point-in-time because ``analyze_keyed``'s meta-only stats
    commit provably (DATA fingerprint) changed no content."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import create_index
    from cascading_hbase_spark.keyed.stats import (
        access_path_advice,
        analyze_keyed,
        auto_range_lookup as _auto,
    )
    from cascading_hbase_spark.keyed.table import write_keyed

    path = os.path.join(tempfile.mkdtemp(prefix="chs_apath_"), "t")
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    write_keyed(t, path, "o_orderkey", zone_cols=["cents"], retain=10)
    create_index(spark, path, "cents")
    analyze_keyed(spark, path, columns=["cents"], exact=True)

    adv_n = access_path_advice(path, "cents", 1_000_000, 2_000_000)
    adv_w = access_path_advice(path, "cents", 10_000_000, 45_000_000)
    if adv_n["path"] != "index" or adv_w["path"] != "scan":
        raise AssertionError(
            f"stats did not flip the access path: narrow={adv_n}, "
            f"wide={adv_w}"
        )
    narrow = _auto(
        spark, path, "cents", 1_000_000, 2_000_000,
        fields=["o_orderkey", "cents"],
    )
    wide = _auto(
        spark, path, "cents", 10_000_000, 45_000_000,
        fields=["o_orderkey", "cents"],
    )
    if not any("__kt_idx_" in f for f in narrow.inputFiles()):
        raise AssertionError("narrow range did not serve through the index")
    if any("__kt_idx_" in f for f in wide.inputFiles()):
        raise AssertionError("wide range did not serve through the scan")
    return narrow.unionByName(wide)


@query(
    "auto_point_lookup",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, o_orderpriority AS prio,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderkey, cents, 'prio' AS probe FROM t
    WHERE prio = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, cents, 'cents' AS probe FROM t
    WHERE cents = (SELECT min(cents) FROM t)
    """,
)
def auto_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-VALUE access-path choice for equality probes (r13,
    ``keyed/stats.py``): '1-URGENT' is one of five order priorities —
    a measured heavy hitter owning ~20% of the table — so its lookup
    plans the zone-pruned SCAN from the persisted count (a naive
    rows/NDV average cannot see which value is hot); the minimum
    cents value matches ~1 row, planned through the INDEX from the
    residual average.  Both branches self-assert their physical path
    via ``inputFiles()``, so the driver verdict covers the
    stats-driven flip; the hot/cold estimates come from ONE
    ``analyze_keyed(heavy_hitters=8)`` pass."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import create_index
    from cascading_hbase_spark.keyed.stats import (
        analyze_keyed,
        auto_point_lookup as _auto,
        point_lookup_advice,
    )
    from cascading_hbase_spark.keyed.table import write_keyed

    path = os.path.join(tempfile.mkdtemp(prefix="chs_ppath_"), "t")
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    write_keyed(t, path, "o_orderkey", retain=10)
    create_index(spark, path, "prio")
    create_index(spark, path, "cents")
    analyze_keyed(
        spark, path, columns=["prio", "cents"], exact=True,
        heavy_hitters=8,
    )
    min_cents = t.agg(F.min("cents")).collect()[0][0]

    adv_hot = point_lookup_advice(path, "prio", "1-URGENT")
    adv_cold = point_lookup_advice(path, "cents", min_cents)
    if adv_hot["path"] != "scan" or adv_cold["path"] != "index":
        raise AssertionError(
            f"per-value selectivity did not flip the access path: "
            f"hot={adv_hot}, cold={adv_cold}"
        )
    hot = _auto(
        spark, path, "prio", "1-URGENT", fields=["o_orderkey", "cents"]
    ).withColumn("probe", F.lit("prio"))
    cold = _auto(
        spark, path, "cents", min_cents, fields=["o_orderkey", "cents"]
    ).withColumn("probe", F.lit("cents"))
    if any("__kt_idx_" in f for f in hot.inputFiles()):
        raise AssertionError("hot probe did not serve through the scan")
    if not any("__kt_idx_" in f for f in cold.inputFiles()):
        raise AssertionError("cold probe did not serve through the index")
    return hot.unionByName(cold)


@query(
    "auto_in_list_lookup",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, o_orderpriority AS prio,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), lo AS (SELECT min(cents) AS mn FROM t)
    SELECT o_orderkey, cents, 'prio' AS probe FROM t
    WHERE prio IN ('2-HIGH', '4-NOT SPECIFIED')
    UNION ALL
    SELECT o_orderkey, cents, 'cents' AS probe FROM t, lo
    WHERE cents IN (mn, mn + 1, mn + 2)
    """,
)
def auto_in_list_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list access-path choice (r13, the third member of the auto
    family): the priority list sums two measured heavy hitters (~40%
    of the table) and tips to the zone-pruned SCAN — one pushed isin
    pass instead of semi-joining 40% of the table through the index —
    while the three-smallest-cents list sums residual-average
    estimates (~3 rows) and rides the INDEX (one pruned prefix scan
    per value, unioned).  Both branches self-assert their physical
    path via ``inputFiles()``."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import create_index
    from cascading_hbase_spark.keyed.stats import (
        analyze_keyed,
        auto_in_lookup as _auto,
    )
    from cascading_hbase_spark.keyed.table import write_keyed

    path = os.path.join(tempfile.mkdtemp(prefix="chs_ipath_"), "t")
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    write_keyed(t, path, "o_orderkey", retain=10)
    create_index(spark, path, "prio")
    create_index(spark, path, "cents")
    analyze_keyed(
        spark, path, columns=["prio", "cents"], exact=True,
        heavy_hitters=8,
    )
    mn = t.agg(F.min("cents")).collect()[0][0]

    hot = _auto(
        spark, path, "prio", ["2-HIGH", "4-NOT SPECIFIED"],
        fields=["o_orderkey", "cents"],
    ).withColumn("probe", F.lit("prio"))
    cold = _auto(
        spark, path, "cents", [mn, mn + 1, mn + 2],
        fields=["o_orderkey", "cents"],
    ).withColumn("probe", F.lit("cents"))
    if any("__kt_idx_" in f for f in hot.inputFiles()):
        raise AssertionError("hot IN-list did not serve through the scan")
    if not any("__kt_idx_" in f for f in cold.inputFiles()):
        raise AssertionError("cold IN-list did not serve through the index")
    return hot.unionByName(cold)


@query(
    "histogram_range_selectivity",
    oracle="""
    WITH t AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT)
                 * (CASE WHEN o_orderkey % 20 = 0 THEN 10 ELSE 1 END) AS v
        FROM orders
    )
    SELECT o_orderkey, v FROM t WHERE v >= 100000000
    """,
)
def histogram_range_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-backed selectivity (r13, ``keyed/stats.py``): a money
    column with a stretched 5% tail (every 20th order's cents x10)
    spans ~10x the dense region's width, so the tail range covers
    ~80% of the value WIDTH but ~5% of the rows.  Analyzed
    counts-only, the uniform-width assumption reads the range as most
    of the table and plans the SCAN; re-analyzed with
    ``histogram=32`` — one extra scan for ALL columns' bin counts —
    the measured distribution prices the same range at ~5% and plans
    the INDEX.  The pair asserts both advisories and the served
    physical path (``inputFiles``): the plan quality tracks how well
    the persisted stats describe the data, which is the whole
    stats-driven-planning story."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import create_index
    from cascading_hbase_spark.keyed.stats import (
        access_path_advice,
        analyze_keyed,
        auto_range_lookup as _auto,
    )
    from cascading_hbase_spark.keyed.table import write_keyed

    path = os.path.join(tempfile.mkdtemp(prefix="chs_hist_"), "t")
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (
            F.round(F.col("o_totalprice") * 100).cast("long")
            * F.when(F.col("o_orderkey") % 20 == 0, 10).otherwise(1)
        ).alias("v"),
    )
    write_keyed(t, path, "o_orderkey", zone_cols=["v"], retain=10)
    create_index(spark, path, "v")

    analyze_keyed(spark, path, columns=["v"], exact=True)
    adv_uniform = access_path_advice(path, "v", 100_000_000, None)
    analyze_keyed(spark, path, columns=["v"], exact=True, histogram=32)
    adv_hist = access_path_advice(path, "v", 100_000_000, None)
    if adv_uniform["path"] != "scan" or adv_hist["path"] != "index":
        raise AssertionError(
            f"histogram did not flip the access path: "
            f"uniform={adv_uniform}, hist={adv_hist}"
        )
    out = _auto(
        spark, path, "v", 100_000_000, None, fields=["o_orderkey", "v"]
    )
    if not any("__kt_idx_" in f for f in out.inputFiles()):
        raise AssertionError("tail range did not serve through the index")
    return out


@query(
    "index_range_lookup_decimal",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT)
             * (CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 6
                THEN 2 ELSE 1 END) AS cents
    FROM orders
    WHERE o_orderkey % 7 <> 0
      AND CAST(round(o_totalprice * 100) AS BIGINT)
            * (CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 6
               THEN 2 ELSE 1 END)
          BETWEEN 5000000 AND 15000000
    """,
)
def index_range_lookup_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index RANGE lookup over a DECIMAL money column (r13,
    ``keyed/index.py`` v4 encoding): a decimal(12,2) price encodes its
    UNSCALED integer offset-padded (shift by ``10^(p-s)`` in
    decimal(p+2, s) operands — exact; at Spark's 38-digit ceiling the
    sum would silently round), so ``BETWEEN`` over the commonest range
    predicate in practice — money — is ONE bucket-pruned index
    key-range scan.  The price column is built EXACTLY from integer
    cents (``cents / 100``), the filter is equivalent to a cents
    filter, and the output returns the BIGINT cents so the value hash
    is float-free.  Maintained incrementally across a mixed wave
    (inserts, price-doubling moves crossing both bounds, deletes)
    first."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import (
        create_index,
        index_range_lookup,
        refresh_index,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode,
        delete_keyed,
        write_keyed,
    )
    from decimal import Decimal

    path = os.path.join(tempfile.mkdtemp(prefix="chs_idxd_"), "t")
    k = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).withColumn(
        # exact: cents / 100 needs 2 fraction digits, the wide division
        # result carries them losslessly before the narrowing cast
        "price",
        F.expr("cast(cast(cents as decimal(14,0)) / 100 as decimal(12,2))"),
    )
    seed = orders.filter(k % 4 != 3)
    write_keyed(seed, path, "o_orderkey", retain=10)                   # v1
    create_index(spark, path, "price")
    wave = (
        orders.filter(k % 4 == 3)  # inserts
        .unionByName(  # value-moving updates: price doubles (exact —
            # values stay under 10^10), crossing the bounds both ways
            seed.filter(k % 10 == 6)
            .withColumn("cents", F.col("cents") * 2)
            .withColumn(
                "price", (F.col("price") * 2).cast("decimal(12,2)")
            )
        )
    )
    write_keyed(wave, path, "o_orderkey", mode=SinkMode.APPEND)        # v2
    delete_keyed(spark, path, orders.filter(k % 7 == 0).select("o_orderkey"))  # v3
    refresh_index(spark, path, "price")  # incremental delta only
    return index_range_lookup(
        spark, path, "price", Decimal("50000.00"), Decimal("150000.00")
    ).select("o_orderkey", "cents")


@query(
    "index_range_lookup_timestamp",
    oracle="""
    WITH t AS (
        SELECT event_id,
               CASE WHEN event_id % 4 <> 3 AND event_id % 10 = 0
                    THEN ts + INTERVAL 10 DAY ELSE ts END AS ts_eff
        FROM events
    )
    SELECT event_id, epoch_us(ts_eff) AS ts_us
    FROM t
    WHERE event_id % 7 <> 0
      AND ts_eff >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts_eff <  TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def index_range_lookup_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index RANGE lookup over a TIMESTAMP column (r13,
    ``keyed/index.py`` v4): TimestampType encodes as offset-padded
    unix MICROS — ordered by the INSTANT, so the stored keys and the
    aware-datetime probes are independent of
    ``spark.sql.session.timeZone`` and monotone across DST folds,
    where the v3 rendered-local-string encoding both inverted inside
    the fall-back fold and silently mismatched probes from a session
    under a different timezone (r12 ADVICE).  Maintained incrementally
    across a wave whose +10-day moves push rows INTO the window and
    deletes pull them out; the output returns unix micros as BIGINT so
    the value hash is render-free on both engines."""
    import datetime
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import (
        create_index,
        index_range_lookup,
        refresh_index,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode,
        delete_keyed,
        write_keyed,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="chs_idxt_"), "t")
    k = F.col("event_id")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    seed = events.filter(k % 4 != 3)
    write_keyed(seed, path, "event_id", retain=10)                     # v1
    create_index(spark, path, "ts")
    wave = (
        events.filter(k % 4 == 3)  # inserts
        .unionByName(  # instant-moving updates (+10 days crosses the
            # window bound in both directions over the Jan data)
            seed.filter(k % 10 == 0)
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS"))
        )
    )
    write_keyed(wave, path, "event_id", mode=SinkMode.APPEND)          # v2
    delete_keyed(spark, path, events.filter(k % 7 == 0).select("event_id"))  # v3
    refresh_index(spark, path, "ts")  # incremental delta only
    utc = datetime.timezone.utc
    return index_range_lookup(
        spark, path, "ts",
        datetime.datetime(2024, 1, 10, tzinfo=utc),
        datetime.datetime(2024, 1, 20, tzinfo=utc),
        include_upper=False,
    ).select("event_id", F.unix_micros("ts").alias("ts_us"))


@query(
    "analyze_column_stats",
    oracle="""
    WITH t AS (
        SELECT o_orderkey,
               o_orderpriority AS prio,
               CASE WHEN o_orderkey % 9 = 0 THEN NULL
                    ELSE CAST(round(o_totalprice * 100) AS BIGINT)
               END AS cents
        FROM orders
    )
    SELECT 'cents' AS "column",
           COUNT(cents) AS n_nonnull,
           COUNT(*) - COUNT(cents) AS n_null,
           COUNT(DISTINCT cents) AS n_distinct,
           CAST(MIN(cents) AS VARCHAR) AS min,
           CAST(MAX(cents) AS VARCHAR) AS max
    FROM t
    UNION ALL
    SELECT 'o_orderkey', COUNT(o_orderkey),
           COUNT(*) - COUNT(o_orderkey),
           COUNT(DISTINCT o_orderkey),
           CAST(MIN(o_orderkey) AS VARCHAR),
           CAST(MAX(o_orderkey) AS VARCHAR)
    FROM t
    UNION ALL
    SELECT 'prio', COUNT(prio), COUNT(*) - COUNT(prio),
           COUNT(DISTINCT prio),
           CAST(MIN(prio) AS VARCHAR), CAST(MAX(prio) AS VARCHAR)
    FROM t
    """,
)
def analyze_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted column statistics (r12, ``keyed/stats.analyze_keyed``
    — the ANALYZE TABLE story): one full-scan aggregate job computes
    per-column non-null/null counts, distinct counts (exact here so
    the oracle can recompute them; ``approx_count_distinct`` is the
    at-scale default), and min/max in schema-stable string form, then
    stamps the document into the manifest as a META-ONLY commit.
    ``column_stats`` reads it back without touching data — what a
    planner consults for salting factors and broadcast decisions
    instead of re-scanning 100 TB."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.stats import (
        analyze_keyed,
        column_stats,
    )
    from cascading_hbase_spark.keyed.table import write_keyed

    path = os.path.join(tempfile.mkdtemp(prefix="chs_stats_"), "t")
    k = F.col("o_orderkey")
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.when(
            k % 9 == 0, F.lit(None)
        ).otherwise(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents"),
    )
    write_keyed(t, path, "o_orderkey")
    analyze_keyed(spark, path, exact=True)
    return column_stats(spark, path)


@query(
    "savepoint_restore_roundtrip",
    oracle="""
    WITH a AS (
        SELECT o_orderkey,
               o_custkey % 50 AS grp,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    b AS (
        SELECT grp, CAST(SUM(cents) AS BIGINT) AS grp_total
        FROM a GROUP BY grp
    )
    SELECT a.o_orderkey, a.cents, a.grp, b.grp_total
    FROM a JOIN b USING (grp)
    """,
)
def savepoint_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table SAVEPOINT/RESTORE (r12, ``keyed/txn.savepoint_keyed``
    / ``restore_savepoint``): cut a consistent {table: version} map
    under every table's writer lease, mutate BOTH tables (an append
    that doubles some cents, a group-delete), then restore the group
    as ONE atomic transaction (``multi_commit`` over per-table
    ``rollback_keyed``).  The returned join must equal the
    PRE-MUTATION first principles — a half-restored group (one table
    rolled back, the other not) breaks the fact-to-total consistency
    the oracle recomputes exactly."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.table import (
        SinkMode,
        delete_keyed,
        read_keyed,
        write_keyed,
    )
    from cascading_hbase_spark.keyed.txn import (
        restore_savepoint,
        savepoint_keyed,
    )

    root = tempfile.mkdtemp(prefix="chs_sp_")
    a_path, b_path = os.path.join(root, "a"), os.path.join(root, "b")
    k = F.col("o_orderkey")
    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    b = a.groupBy("grp").agg(F.sum("cents").alias("grp_total"))
    write_keyed(a, a_path, "o_orderkey", retain=10)
    write_keyed(b, b_path, "grp", retain=10)
    sp = savepoint_keyed([a_path, b_path])
    # mutate BOTH tables past the cut
    write_keyed(
        a.filter(k % 3 == 0).withColumn("cents", F.col("cents") * 2),
        a_path, "o_orderkey", mode=SinkMode.APPEND,
    )
    delete_keyed(
        spark, b_path,
        b.filter(F.col("grp") % 7 == 0).select("grp"),
    )
    restore_savepoint(sp)
    fa = read_keyed(spark, a_path)
    fb = read_keyed(spark, b_path)
    return fa.join(fb, "grp").select(
        "o_orderkey", "cents", "grp", "grp_total"
    )


@query(
    "index_range_lookup",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT)
             * (CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 0
                THEN 2 ELSE 1 END) AS cents
    FROM orders
    WHERE o_orderkey % 7 <> 0
      AND CAST(round(o_totalprice * 100) AS BIGINT)
            * (CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 0
               THEN 2 ELSE 1 END)
          BETWEEN 5000000 AND 15000000
    """,
)
def index_range_lookup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index RANGE lookup (r12, ``keyed/index.index_range_
    lookup``): the composite index key uses an ORDER-PRESERVING
    integral encoding (``lpad(v + 2^63, 20, '0')`` — the
    decimal-string analogue of the OrderedBytes rowkey encoding HBase
    users hand-build for exactly this), so ``BETWEEN`` over the
    indexed BIGINT resolves as ONE bucket-pruned index key-range scan
    + a semi-join of the hits into the main table.  The index is
    maintained INCREMENTALLY across a mixed wave first (inserts,
    value-moving updates — which must retract old positions OUT of the
    range and insert new ones INTO it — and deletes), so a stale
    retraction or a mis-ordered encoding shows up as a hash mismatch
    against the first-principles oracle."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import (
        create_index,
        index_range_lookup,
        refresh_index,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode,
        delete_keyed,
        write_keyed,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="chs_idxr_"), "t")
    k = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    seed = orders.filter(k % 4 != 3)
    write_keyed(seed, path, "o_orderkey", retain=10)                   # v1
    create_index(spark, path, "cents")
    wave = (
        orders.filter(k % 4 == 3)  # inserts
        .unionByName(  # value-moving updates: cents doubles, so rows
            # cross the range bounds in BOTH directions
            seed.filter(k % 10 == 0).withColumn("cents", F.col("cents") * 2)
        )
    )
    write_keyed(wave, path, "o_orderkey", mode=SinkMode.APPEND)        # v2
    delete_keyed(spark, path, orders.filter(k % 7 == 0).select("o_orderkey"))  # v3
    refresh_index(spark, path, "cents")  # incremental delta only
    return index_range_lookup(
        spark, path, "cents", 5_000_000, 15_000_000
    ).select("o_orderkey", "cents")


@query(
    "index_composite_lookup",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT)
             * (CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 5
                THEN 2 ELSE 1 END) AS cents
    FROM orders
    WHERE o_orderkey % 7 <> 0
      AND (CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 0
           THEN '1-URGENT' ELSE o_orderpriority END) = '1-URGENT'
      AND CAST(round(o_totalprice * 100) AS BIGINT)
            * (CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 5
               THEN 2 ELSE 1 END)
          BETWEEN 5000000 AND 15000000
    """,
)
def index_composite_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE index, the classic ``a = ? AND b BETWEEN ? AND ?``
    shape (r12): ``create_index(path, ["prio", "cents"])`` concatenates
    the encoded components (``enc(prio)\\x00enc(cents)\\x00<key>``), so
    equality on the leading column + a range on the next is ONE
    contiguous bucket-pruned key-range scan — and with both columns
    indexed, ``fields=["o_orderkey", "cents"]`` serves INDEX-ONLY.
    The index is refreshed INCREMENTALLY across a wave that moves each
    component independently (prio moves retract+reinsert under a new
    leading prefix; cents moves re-rank within the prefix) plus
    deletes — a missed retraction in either component fails the
    hash."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import (
        create_index,
        index_range_lookup,
        refresh_index,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode,
        delete_keyed,
        write_keyed,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="chs_idxm_"), "t")
    cols = ["prio", "cents"]
    k = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    seed = orders.filter(k % 4 != 3)
    write_keyed(seed, path, "o_orderkey", retain=10)                   # v1
    create_index(spark, path, cols)
    wave = (
        orders.filter(k % 4 == 3)  # inserts
        .unionByName(  # leading-component moves (prefix changes)
            seed.filter(k % 10 == 0).withColumn("prio", F.lit("1-URGENT"))
        )
        .unionByName(  # second-component moves (re-rank in prefix)
            seed.filter(k % 10 == 5).withColumn("cents", F.col("cents") * 2)
        )
    )
    write_keyed(wave, path, "o_orderkey", mode=SinkMode.APPEND)        # v2
    delete_keyed(spark, path, orders.filter(k % 7 == 0).select("o_orderkey"))  # v3
    refresh_index(spark, path, cols)  # incremental delta only
    return index_range_lookup(
        spark, path, cols, 5_000_000, 15_000_000,
        prefix=("1-URGENT",), fields=["o_orderkey", "cents"],
    )


@query(
    "index_covering_lookup",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT)
             * (CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 5
                THEN 3 ELSE 1 END) AS cents
    FROM orders
    WHERE o_orderkey % 7 <> 0
      AND o_orderpriority = '1-URGENT'
    """,
)
def index_covering_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVERING index lookup (r12): ``create_index(include=['cents'])``
    stores the covered column in the index row, and a lookup whose
    ``fields`` are all covered is served INDEX-ONLY — zero main-table
    bytes (pinned by input-file assertions in
    ``tests/test_index_range.py``; here the ORACLE pins the covered
    PAYLOAD is maintained: the wave's cents-only updates do not move
    the indexed value, so a value-moved-gated maintainer would serve
    the pre-update cents and fail the value hash)."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.index import (
        create_index,
        index_lookup,
        refresh_index,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode,
        delete_keyed,
        write_keyed,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="chs_idxc_"), "t")
    k = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    seed = orders.filter(k % 4 != 3)
    write_keyed(seed, path, "o_orderkey", retain=10)                   # v1
    create_index(spark, path, "prio", include=["cents"])
    wave = (
        orders.filter(k % 4 == 3)  # inserts (covered payload in-row)
        .unionByName(  # include-column-only updates: prio unchanged,
            # cents tripled — index-silent to the retract side, but the
            # covering payload MUST refresh
            seed.filter(k % 10 == 5)
            .withColumn("cents", F.col("cents") * 3)
        )
    )
    write_keyed(wave, path, "o_orderkey", mode=SinkMode.APPEND)        # v2
    delete_keyed(spark, path, orders.filter(k % 7 == 0).select("o_orderkey"))  # v3
    refresh_index(spark, path, "prio")
    return index_lookup(
        spark, path, "prio", "1-URGENT",
        fields=["o_orderkey", "cents"],
    )


# ---------------------------------------------------------------------------
# §2.2 projection / filters / row-wise functions ([T] then [D])
# ---------------------------------------------------------------------------


@query(
    "each_identity",
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer",
)
def each_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each(pipe, Identity) pass-through projection
    (MultiFamilyHBaseTest.java:77)."""
    return load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


@query(
    "regex_splitter",
    oracle="""
    SELECT o_orderkey,
           split_part(o_orderpriority, '-', 1) AS prio_num,
           split_part(o_orderpriority, '-', 2) AS prio_name
    FROM orders
    """,
)
def regex_splitter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexSplitter(declared, pattern): one string column -> N columns
    (MultiFamilyHBaseTest.java:54-55 splits ``line`` into num/lower/upper)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(1)).alias("prio_num"),
        F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(2)).alias("prio_name"),
    )


@query(
    "expression_function",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue,
           CAST(l_quantity * 2 + 1 AS DOUBLE) AS qty_expr
    FROM lineitem
    """,
)
def expression_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExpressionFunction(fields, javaExpr) — computed column via Janino
    (MultiFamilyCascadeHBaseTest.java:62).  SQL expressions replace Janino;
    Catalyst codegen compiles them JVM-side exactly as Janino did."""
    # round at 4 decimals: the product of two 2-decimal values has at most
    # 4 decimal digits, so there is never a rounding tie (Spark rounds the
    # shortest decimal repr, DuckDB the binary value — they disagree on ties).
    return load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        "l_linenumber",
        "round(l_extendedprice * (1 - l_discount), 4) AS revenue",
        "CAST(l_quantity * 2 + 1 AS DOUBLE) AS qty_expr",
    )


@query(
    "regex_filter",
    oracle=r"""
    SELECT c_custkey, c_name FROM customer
    WHERE regexp_matches(c_name, 'Customer#0*1[0-9]$')
    """,
)
def regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexFilter (cascading.operation.regex): row passes iff pattern
    matches."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_name").rlike("Customer#0*1[0-9]$"))
        .select("c_custkey", "c_name")
    )


@query(
    "filter_bool_combinators",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE (o_orderstatus = 'F' AND o_totalprice > 150000.0)
       OR (NOT o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')
    """,
)
def filter_bool_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExpressionFilter + And/Or/Not combinators
    (cascading.operation.filter)."""
    o = load_table(spark, sf_dir, "orders")
    cond = ((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000.0)) | (
        (~(F.col("o_orderstatus") == "F")) & (F.col("o_orderpriority") == "1-URGENT")
    )
    return o.filter(cond).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "filter_null",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_name IS NOT NULL
    """,
)
def filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FilterNull: drop rows with null in the argument fields.  A left
    join manufactures the nulls so the filter is observable."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    joined = e.join(c, e.user_id == c.c_custkey, "left")
    return joined.filter(F.col("c_name").isNotNull()).select("event_id", "user_id", "c_name")


@query(
    "insert_literal",
    oracle="SELECT r_regionkey, r_name, 'hbase' AS src, 1 AS tag FROM region",
)
def insert_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert — constant columns (cascading.operation.Insert)."""
    return load_table(spark, sf_dir, "region").select(
        "r_regionkey",
        "r_name",
        F.lit("hbase").alias("src"),
        F.lit(1).cast("int").alias("tag"),
    )


@query(
    "regex_parser",
    oracle=r"""
    SELECT event_id, regexp_extract(props, '"k":\s*(\d+)', 1) AS k_str
    FROM events
    """,
)
def regex_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexParser: extract capture groups into fields."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).alias("k_str"),
    )


@query(
    "regex_replace",
    oracle=r"""
    SELECT c_custkey, regexp_replace(c_name, '0+', '0', 'g') AS squeezed
    FROM customer
    """,
)
def regex_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexReplace: pattern rewrite inside a string column."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.regexp_replace(F.col("c_name"), "0+", "0").alias("squeezed"),
    )


@query(
    "regex_generator",
    oracle=r"""
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM (
      SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS token
      FROM documents
    )
    GROUP BY token
    """,
)
def regex_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexGenerator: 1 row -> N rows of regex matches, here followed by
    a word count (the canonical Cascading example)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "date_formatter",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym,
           strftime(o_orderdate, '%Y-%m-%d') AS ymd
    FROM orders
    """,
)
def date_formatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DateFormatter (cascading.operation.text.DateFormatter)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ymd"),
    )


@query(
    "date_parser",
    oracle="""
    SELECT o_orderkey,
           strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS parsed_ts
    FROM orders
    """,
)
def date_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DateParser: string -> timestamp (round-trips through a formatted
    string so the parse step is observable)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_timestamp(
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"), "yyyy-MM-dd HH:mm:ss"
        ).alias("parsed_ts"),
    )


@query(
    "field_joiner",
    oracle="""
    SELECT c_custkey, concat_ws('|', c_mktsegment, c_name) AS joined
    FROM customer
    """,
)
def field_joiner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FieldJoiner: concat fields with a delimiter."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
    )


@query(
    "field_formatter",
    oracle="""
    SELECT r_regionkey, printf('%s-%03d', r_name, r_regionkey) AS formatted
    FROM region
    """,
)
def field_formatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FieldFormatter: printf-style formatting of fields into a string."""
    return load_table(spark, sf_dir, "region").select(
        "r_regionkey",
        F.format_string("%s-%03d", F.col("r_name"), F.col("r_regionkey")).alias("formatted"),
    )


@query(
    "ungroup_unpivot",
    oracle="""
    SELECT o_orderkey, 'o_orderstatus' AS field, o_orderstatus AS val FROM orders
    UNION ALL
    SELECT o_orderkey, 'o_orderpriority' AS field, o_orderpriority AS val FROM orders
    """,
)
def ungroup_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UnGroup: unpivot key + repeated value groups into rows."""
    return load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "stack(2, 'o_orderstatus', o_orderstatus, 'o_orderpriority', o_orderpriority) AS (field, val)",
    )


@query(
    "pivot_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_F,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide reshape, the inverse of UnGroup): status values
    become columns.  The value list is declared, so the plan is a
    single hash aggregate — no extra pass to discover columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .withColumnRenamed("F", "qty_F")
        .withColumnRenamed("O", "qty_O")
    )


# ---------------------------------------------------------------------------
# §2.6 set operations
# ---------------------------------------------------------------------------


@query(
    "merge_union",
    oracle="""
    SELECT c_name AS name, 'customer' AS kind FROM customer
    UNION ALL
    SELECT s_name AS name, 'supplier' AS kind FROM supplier
    """,
)
def merge_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge of pipes (GroupBy over multiple pipes in Cascading 1.x;
    APPEND sink accumulation HBaseTap.java:33) = union."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return c.unionByName(s)


@query(
    "intersect_op",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def intersect_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersect(b)


@query(
    "except_op",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def except_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.subtract(o)


# ---------------------------------------------------------------------------
# §2.8 scalar function surface (the expression language replacing Janino)
# ---------------------------------------------------------------------------


@query(
    "json_extract",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction from the events.props JSON string."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )


@query(
    "string_scalar_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_upper,
           lower(c_name) AS name_lower,
           CAST(length(c_name) AS INTEGER) AS name_len,
           substring(c_name, 1, 8) AS name_prefix,
           ltrim(rtrim(c_name)) AS trimmed,
           reverse(c_mktsegment) AS seg_rev
    FROM customer
    """,
)
def string_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_name").alias("name_lower"),
        F.length("c_name").cast("int").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.trim(F.col("c_name")).alias("trimmed"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
    )


@query(
    "math_scalar_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 6) AS adisc,
           CAST(ceil(l_quantity) AS BIGINT) AS qceil,
           CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS pfloor,
           round(sqrt(l_extendedprice), 6) AS psqrt,
           CAST(l_orderkey % 7 AS BIGINT) AS kmod
    FROM lineitem
    """,
)
def math_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Type note: DuckDB's ceil/floor on DOUBLE return DOUBLE while Spark's
    # return LONG; both sides cast to BIGINT so the driver's value hash
    # agrees.  abs() is rounded on both sides to dodge float fuzz.
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("adisc"),
        F.ceil("l_quantity").cast("bigint").alias("qceil"),
        F.floor(F.col("l_extendedprice") / 1000.0).cast("bigint").alias("pfloor"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("psqrt"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("kmod"),
    )


@query(
    "bytes_codec",
    oracle="""
    SELECT doc_id,
           md5(text) AS text_md5,
           to_base64(encode(substring(text, 1, 16))) AS head_b64,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def bytes_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string <-> bytes codecs — the reference's cell model is raw bytes
    with string convention (HBaseScheme.java:94,113,120)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        F.base64(F.substring("text", 1, 16).cast("binary")).alias("head_b64"),
        F.octet_length(F.col("text").cast("binary")).cast("bigint").alias("n_bytes"),
    )


@query(
    "column_profile",
    oracle="""
    WITH agg AS (
      SELECT count(*) AS n_rows,
             SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS price_nulls,
             count(DISTINCT l_returnflag) AS flag_ndv,
             CAST(min(l_quantity) AS DOUBLE) AS qty_min,
             CAST(max(l_quantity) AS DOUBLE) AS qty_max,
             CAST(avg(l_quantity) AS DOUBLE) AS qty_avg,
             CAST(min(l_shipdate) AS VARCHAR) AS ship_min,
             CAST(max(l_shipdate) AS VARCHAR) AS ship_max,
             CAST(avg(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS disc_avg
      FROM lineitem
    )
    SELECT CAST(n_rows AS BIGINT) AS n_rows,
           CAST(price_nulls AS BIGINT) AS price_nulls,
           CAST(flag_ndv AS BIGINT) AS flag_ndv,
           qty_min, qty_max, round(qty_avg, 6) AS qty_avg,
           ship_min, ship_max,
           round(disc_avg, 6) AS disc_avg
    FROM agg
    """,
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table statistics profile (the ANALYZE TABLE / HBase 'scan the
    family and summarize' maintenance op): row count, per-column null
    counts, NDV, min/max/avg, string length stats — ALL columns in ONE
    partial+final aggregate pass over the table.  At 100 TB this is
    the pattern for stats collection: never one scan per column."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("l_extendedprice").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("price_nulls"),
        F.countDistinct("l_returnflag").cast("bigint").alias("flag_ndv"),
        F.min("l_quantity").cast("double").alias("qty_min"),
        F.max("l_quantity").cast("double").alias("qty_max"),
        F.round(F.avg("l_quantity").cast("double"), 6).alias("qty_avg"),
        F.min("l_shipdate").cast("string").alias("ship_min"),
        F.max("l_shipdate").cast("string").alias("ship_max"),
        F.round(
            F.avg(F.col("l_discount").cast("decimal(18,6)")).cast("double"), 6
        ).alias("disc_avg"),
    )


@query(
    "keyed_point_lookup",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_orderkey IN (1, 7, 33, 101, 420, 1024, 2049, 4096)
    """,
)
def keyed_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-Get point lookups — the HBase ``HTable.get(List<Get>)``
    pattern the connector's users run constantly (a Get is the
    degenerate start==stop scan of TableInputFormatWrap.java:30-32).
    The IN-list compiles to an OR-of-equalities pushed into the parquet
    scan (row-group min/max + dictionary filtering); on a keyed table
    the same predicate additionally prunes buckets
    (``get_keyed``, keyed/table.py — pytest-covered)."""
    keys = [1, 7, 33, 101, 420, 1024, 2049, 4096]
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey").isin(keys)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "array_scalar_funcs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents)
    SELECT doc_id,
           CAST(len(a) AS BIGINT) AS n_tokens,
           array_to_string(list_sort(a)[1:3], ',') AS first3_sorted,
           list_contains(a, 'the') AS has_the,
           CAST(len(list_distinct(a)) AS BIGINT) AS n_uniq,
           CAST(COALESCE(list_position(a, 'data'), 0) AS BIGINT) AS pos_data
    FROM t
    """,
)
def array_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar surface (SURVEY.md §2.8: the engine exposes Spark's
    array library as the expression language): sort, slice, contains,
    distinct, position — all map-side Catalyst expressions inside one
    whole-stage-codegen span."""
    d = load_table(spark, sf_dir, "documents")
    a = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(a).cast("bigint").alias("n_tokens"),
        F.concat_ws(",", F.slice(F.array_sort(a), 1, 3)).alias("first3_sorted"),
        F.array_contains(a, "the").alias("has_the"),
        F.size(F.array_distinct(a)).cast("bigint").alias("n_uniq"),
        F.array_position(a, "data").cast("bigint").alias("pos_data"),
    )


@query(
    "union_evolved_schema",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    WHERE o_orderkey < 500
    UNION ALL BY NAME
    SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM orders
    WHERE o_orderkey >= 500 AND o_orderkey < 1000
    """,
)
def union_evolved_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union across an evolved schema: the older branch lacks a column
    and surfaces NULLs — ``unionByName(allowMissingColumns=True)``, the
    engine's merge semantics for mixed-generation inputs (the same
    contract the keyed layer's additive schema evolution gives
    mixed-generation reads)."""
    o = load_table(spark, sf_dir, "orders")
    new = o.filter(F.col("o_orderkey") < 500).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    legacy = o.filter(
        (F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1000)
    ).select("o_orderkey", "o_totalprice")
    return new.unionByName(legacy, allowMissingColumns=True)


@query(
    "regexp_extract_all_funcs",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]{7,}')) AS BIGINT)
             AS n_long_words,
           coalesce(regexp_extract_all(text, '[a-z]{7,}')[1], '')
             AS first_long
    FROM documents WHERE text IS NOT NULL
    """,
)
def regexp_extract_all_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``regexp_extract_all`` — the multi-match regex scalar surface
    (single-match extraction is ``regex_parser``): count of 7+-letter
    lowercase words per doc plus the first such match.  Pure map-side
    expression work inside codegen."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    matches = F.regexp_extract_all("text", F.lit("[a-z]{7,}"), 0)
    return d.select(
        "doc_id",
        F.size(matches).cast("bigint").alias("n_long_words"),
        # F.get (0-based) is NULL out of bounds; element_at raises under
        # ANSI mode when the array is empty
        F.coalesce(F.get(matches, 0), F.lit("")).alias("first_long"),
    )


@query(
    "global_row_index",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT)
             AS row_index
    FROM documents
    """,
)
def global_row_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0..N-1 enumeration of documents by doc_id — sample
    indexing for a training pipeline.  The oracle is the naive global
    window; the engine (`functions.enumerate.global_row_index`) gets
    the same answer with percentile-cut bucketing, per-bucket parallel
    windows and broadcast prefix offsets, so no task ever sees more
    than ~N/B rows (the naive form would put ALL rows in ONE task —
    the classic 100 TB window trap)."""
    from cascading_hbase_spark.functions.enumerate import global_row_index

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return global_row_index(d, "doc_id", n_buckets=32)


@query(
    "fk_violation_report",
    oracle="""
    SELECT 'lineitem->orders' AS fk_edge,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS orphans,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS child_rows
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'lineitem->supplier',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey))
                AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    """,
)
def fk_violation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every FK edge of
    the star schema — the ingest-validation report a pipeline runs
    before trusting joins (an orphan silently vanishes from every inner
    join downstream; count them HERE, once, instead of debugging row
    losses later).

    Each edge is a LEFT ANTI join (child minus matched parents)
    aggregated to one row — anti joins carry only the key column of the
    parent side — cross-joined with the child's 1-row count and
    unioned; the whole report is ONE lazy DataFrame, no driver-side
    counting."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def edge(name, child, child_key, parent, parent_key):
        orphans = (
            child.select(child_key)
            .join(
                parent.select(F.col(parent_key).alias(child_key)),
                child_key,
                "left_anti",
            )
            .agg(F.count("*").cast("bigint").alias("orphans"))
        )
        total = child.agg(F.count("*").cast("bigint").alias("child_rows"))
        return orphans.join(F.broadcast(total)).select(
            F.lit(name).alias("fk_edge"), "orphans", "child_rows"
        )

    edges = [
        edge("lineitem->orders", li, "l_orderkey",
             o, "o_orderkey"),
        edge("lineitem->part", li, "l_partkey",
             load_table(spark, sf_dir, "part"), "p_partkey"),
        edge("lineitem->supplier", li, "l_suppkey",
             load_table(spark, sf_dir, "supplier"), "s_suppkey"),
        edge("orders->customer", o, "o_custkey",
             load_table(spark, sf_dir, "customer"), "c_custkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


@query(
    "changefeed_across_rebucket",
    oracle="""
    SELECT o_orderkey, o_custkey, price, change FROM (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS price,
             'delete' AS change
      FROM orders WHERE o_orderkey % 10 < 8 AND o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice * 3, 'update'
      FROM orders
      WHERE o_orderkey % 10 < 8 AND o_orderkey % 11 = 0
        AND o_orderkey % 7 <> 0
    )
    """,
)
def changefeed_across_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changefeed ACROSS a re-bucketing compaction (r12,
    ``keyed/cdc_prune.py``): seed an 8-bucket keyed table (v1), update
    every 5th key (v2), RE-BUCKET to 3 (v3 — remaps every key range;
    before r12 this forced the diff to read both full snapshots),
    update every 11th key (v4), delete every 7th (v5), and diff
    (v2, v5].  The pruned diff must report exactly the net changes
    between the two END snapshots: updates to the tripled price, and
    deletes carrying the OLD-snapshot (v2) payload — a two-snapshot
    diff never sees intermediate states, so a key updated at v4 and
    deleted at v5 reports its v2 row (the doubled price where
    k%5==0), not the v4 one.  The content-identical re-bucket itself
    emits nothing.  The oracle rebuilds the diff from first
    principles over ``orders``; a pruning bug (a skipped touched
    range, or the asymmetric-coverage hazard of reading a key on one
    side only) surfaces as a missing or spurious row and fails the
    hash."""
    import os
    import tempfile

    from cascading_hbase_spark.keyed.table import (
        SinkMode,
        changefeed_keyed,
        compact_keyed,
        delete_keyed,
        write_keyed,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="chs_cfr_"), "t")
    k = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").alias("price")
    )
    seed = orders.filter(k % 10 < 8)
    write_keyed(seed, path, "o_orderkey", n_buckets=8, retain=10)      # v1
    write_keyed(
        seed.filter(k % 5 == 0).withColumn("price", F.col("price") * 2),
        path, "o_orderkey", mode=SinkMode.APPEND,
    )                                                                  # v2
    compact_keyed(spark, path, n_buckets=3)                            # v3
    write_keyed(
        seed.filter(k % 11 == 0).withColumn("price", F.col("price") * 3),
        path, "o_orderkey", mode=SinkMode.APPEND,
    )                                                                  # v4
    delete_keyed(spark, path, orders.filter(k % 7 == 0).select("o_orderkey"))  # v5
    feed = changefeed_keyed(spark, path, 2, to_generation=5)
    return feed.select(
        "o_orderkey", "o_custkey", "price",
        F.col("_change").alias("change"),
    )
