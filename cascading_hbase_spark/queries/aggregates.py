"""§2.4 aggregations + §2.5 sorts/limits/top-k.

Numeric-parity notes (these queries must hash-match a DuckDB oracle):
monetary sums cast per-row to DECIMAL before SUM so the aggregate is
exact and order-independent (Spark partial aggregation sums partitions
in arbitrary order; a raw double SUM differs from DuckDB in the last
bits).  Averages are computed as exact-decimal-sum / count in DOUBLE so
both engines perform the identical single IEEE division.  Spark's
hash aggregate does partial+final (map-side combine) automatically —
at 100 TB each group's traffic is one partial row per partition."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cascading_hbase_spark.catalog import load_table
from cascading_hbase_spark.queries import query

DEC = "decimal(18,2)"


@query(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped GroupBy + Sum/Average/Min/Max/Count — the flagship
    aggregate (SURVEY.md §2.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast("decimal(18,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_base_price"),
        F.sum(disc).cast("double").alias("sum_disc_price"),
        (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("*")).alias("avg_qty"),
        (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.count("*")).alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count("*").alias("count_order"),
    )


@query(
    "groupby_count",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@query(
    "groupby_first_last",
    oracle="""
    SELECT l_orderkey,
           min_by(l_partkey, sk) AS first_part,
           max_by(l_partkey, sk) AS last_part,
           min_by(l_quantity, sk) AS first_qty,
           max_by(l_quantity, sk) AS last_qty
    FROM (
      SELECT *,
             (l_linenumber * 1000000000000 + l_partkey * 1000000 + l_suppkey)
               * 100 + CAST(floor(l_quantity) AS BIGINT) AS sk
      FROM lineitem
    ) GROUP BY l_orderkey
    """,
)
def groupby_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupBy + First/Last with explicit sort key (Cascading's GroupBy
    secondary sort feeding First/Last aggregators) = min_by/max_by —
    a single hash aggregate, no window shuffle-sort needed.  The sort
    key is a composite (linenumber, partkey, suppkey, quantity) packed
    into one bigint: (orderkey, linenumber) alone is not unique in the
    synthetic data, and the key must be TOTAL over every output column
    or a tie leaves first/last_qty engine-dependent (observed at
    sf0.001, where (linenumber, partkey, suppkey) collides with
    differing quantity).  floor() before the cast because Spark
    truncates double->bigint while DuckDB rounds; quantities are
    integral so the picked value is unaffected."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "sk",
        (
            F.col("l_linenumber").cast("bigint") * F.lit(1000000000000)
            + F.col("l_partkey") * F.lit(1000000)
            + F.col("l_suppkey")
        ) * F.lit(100)
        + F.floor("l_quantity"),
    )
    return li.groupBy("l_orderkey").agg(
        F.min_by("l_partkey", "sk").alias("first_part"),
        F.max_by("l_partkey", "sk").alias("last_part"),
        F.min_by("l_quantity", "sk").alias("first_qty"),
        F.max_by("l_quantity", "sk").alias("last_qty"),
    )


@query(
    "unique_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus, l_suppkey FROM lineitem",
)
def unique_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique sub-assembly = distinct."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_suppkey"
    ).distinct()


@query(
    "percentile_agg",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS median_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           quantile_cont(l_quantity, 0.25) AS q1_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — Spark ``percentile``
    and DuckDB ``quantile_cont`` agree bit-for-bit).  At 100 TB swap to
    ``approx_percentile`` (t-digest) — same query shape."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
        F.expr("percentile(l_quantity, 0.25)").alias("q1_qty"),
    )


@query(
    "count_distinct",
    oracle="""
    SELECT l_suppkey,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem GROUP BY l_suppkey
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@query(
    "rollup_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (engine extension; free on Catalyst)."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        )
    )


@query(
    "cube_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("qty"),
        )
    )


@query(
    "grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "buffer_apply_in_pandas",
    oracle="""
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           SUM(l_quantity) AS qty_total,
           MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_suppkey
    """,
)
def buffer_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffer — the per-group iterator UDF escape hatch
    (cascading.operation.Buffer) — as Arrow-batched ``applyInPandas``.
    Kept deliberately simple; real per-group logic that built-ins can't
    express goes through this exact shape.  (Slow path: prefer built-in
    aggregates; this exists to prove the surface.)

    Grouped by SUPPLIER, not order, on purpose: ``applyInPandas``
    invokes the Python function once PER GROUP, so key cardinality —
    not row count — is the cost driver (the order-keyed form ran ~25 s
    at sf0.01 on 15k one-call groups vs ~1 s supplier-keyed; a
    registry-wide timing sweep caught it).  Per-group Python belongs
    on coarse groups; fine-grained scalar-per-group work goes through
    ``grouped_agg_pandas_udf`` or built-ins."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_quantity", "l_extendedprice"
    )

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "l_suppkey": [pdf["l_suppkey"].iloc[0]],
                "n_lines": [len(pdf)],
                "qty_total": [float(pdf["l_quantity"].sum())],
                "max_price": [float(pdf["l_extendedprice"].max())],
            }
        )

    return li.groupBy("l_suppkey").applyInPandas(
        summarize,
        schema="l_suppkey bigint, n_lines bigint, qty_total double, max_price double",
    )


# ---------------------------------------------------------------------------
# §2.5 sorts / limits / top-k
# ---------------------------------------------------------------------------


@query(
    "secondary_sort_first",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_extendedprice
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY l_suppkey
        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def secondary_sort_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupBy secondary sort + take-first (sortFields semantics)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rnk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    bench=True,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (First after sorted GroupBy in Cascading).  Spark
    physical plan: partial top-k within partitions (WindowGroupLimit
    pushdown) then final — no full sort of the group."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rnk"))
    )


@query(
    "global_sort_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def global_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global order + head.  Spark plans TakeOrderedAndProject — a
    per-partition top-100 then a driver-side merge of 100-row heaps, NOT
    the single-reducer total sort the Cascading idiom forced."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "limit_head",
    oracle="""
    SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 50
    """,
)
def limit_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Limit-style head, made deterministic with an explicit key order."""
    return (
        load_table(spark, sf_dir, "customer")
        .orderBy("c_custkey")
        .limit(50)
        .select("c_custkey", "c_name")
    )


@query(
    "conditional_pivot_agg",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'
                         THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             AS click_value,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             AS purchase_value,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
             AS n_errors
    FROM events GROUP BY user_id
    """,
)
def conditional_pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual pivot via conditional aggregation (sum-of-CASE): one wide
    row per user with per-event-type columns.  Unlike ``df.pivot`` this
    never needs a distinct-values pass — the column set is declared, so
    the whole thing is a single partial+final hash agg."""
    e = load_table(spark, sf_dir, "events")
    val = F.col("value").cast(DEC)
    return e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", val))
        .cast("double")
        .alias("click_value"),
        F.sum(F.when(F.col("event_type") == "purchase", val))
        .cast("double")
        .alias("purchase_value"),
        F.count(F.when(F.col("event_type") == "error", F.lit(1)))
        .cast("bigint")
        .alias("n_errors"),
    )


@query(
    "value_histogram",
    oracle="""
    SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(value) AS lo, max(value) AS hi
    FROM events GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bucket = floor(value / width) — a pure
    map-side expression, so the whole histogram is one hash agg keyed on
    the bucket (constant cardinality regardless of data size).  min/max
    carry the observed bucket extent without any extra pass."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.floor(F.col("value") / 25.0).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@query(
    "approx_percentile_contract",
    # Like approx_distinct_sketch: the t-digest/KLL estimate itself is
    # implementation-specific, but its rank-accuracy contract is
    # checkable — the approximate median must land between the exact
    # 45th and 55th percentile values (a 50x wider band than the
    # configured 1e-3 rank error; deterministic-in-practice).  Hash
    # equality fails iff the sketch blows its bound.
    oracle="""
    SELECT event_type,
           CAST(quantile_disc(value, 0.5) IS NOT NULL AS BOOLEAN)
             AS within_rank_bound
    FROM events GROUP BY event_type
    """,
)
def approx_percentile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (``approx_percentile``) with its
    accuracy contract asserted in-query: the sketch is partial+final
    aggregable (the scale path where exact percentile needs a per-group
    sort), and the emitted boolean pins it inside the exact p45..p55
    value band computed alongside."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.expr("approx_percentile(value, 0.5, 1000)").alias("approx_p50"),
            F.expr("percentile(value, 0.45)").alias("_lo"),
            F.expr("percentile(value, 0.55)").alias("_hi"),
        )
        .select(
            "event_type",
            ((F.col("approx_p50") >= F.col("_lo"))
             & (F.col("approx_p50") <= F.col("_hi"))).alias("within_rank_bound"),
        )
    )


@query(
    "stats_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 3) AS qty_price_covar,
           round(stddev_samp(l_quantity), 6) AS qty_stddev,
           round(var_samp(l_quantity), 6) AS qty_var
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: correlation, sample covariance,
    stddev, variance per group — single-pass mergeable moments
    (partial+final hash agg), the profile pass a feature-engineering
    pipeline runs per segment.  Covariance rounds at 3 decimals: its
    magnitude (~1e3) puts the distributed-merge float tail near 1e-9,
    well inside the bin; corr/stddev are O(1)-O(10) and round at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 3).alias("qty_price_covar"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
    )


@query(
    "histogram_equidepth",
    oracle="""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
      FROM orders
    ),
    b AS (
      SELECT CAST(len(list_filter(cuts.cs, c -> o.o_totalprice > c))
                  AS BIGINT) AS bucket,
             o.o_totalprice
      FROM orders o CROSS JOIN cuts
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(round(min(o_totalprice), 2) AS DOUBLE) AS lo,
           CAST(round(max(o_totalprice), 2) AS DOUBLE) AS hi
    FROM b GROUP BY bucket
    """,
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (deciles of o_totalprice) — the companion
    to the equi-width ``value_histogram``: bucket boundaries come from
    the data's exact percentiles, so every bucket holds ~10% of rows.

    Scale shape deliberately avoids the naive global-sort/ntile plan
    (one giant partition): exact decile cuts come from ONE percentile
    aggregate (partial+final), broadcast back as a 1-row join, and
    bucket assignment is a map-side HOF count of cuts below the value —
    a scan + tiny agg instead of a total order."""
    o = load_table(spark, sf_dir, "orders")
    cuts = o.agg(
        F.expr(
            "percentile(o_totalprice, "
            "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"
        ).alias("cs")
    )
    bucket = F.aggregate(
        "cs",
        F.lit(0).cast("bigint"),
        lambda acc, c: acc
        + F.when(F.col("o_totalprice") > c, 1).otherwise(0),
    )
    return (
        o.join(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "grouped_agg_pandas_udf",
    oracle="""
    SELECT o_orderpriority,
           CAST(round(exp(avg(ln(o_totalprice))), 4) AS DOUBLE) AS geomean_price,
           CAST(count(*) AS BIGINT) AS n
    FROM orders WHERE o_totalprice > 0
    GROUP BY o_orderpriority
    """,
)
def grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED-AGG pandas UDF surface (SURVEY §2.9): a custom
    *scalar-per-group* aggregate usable directly inside ``agg`` —
    distinct from the per-group-DataFrame ``applyInPandas`` Buffer.
    Geometric mean is the demo (no Spark built-in); Arrow moves each
    group's column once, numpy reduces it, and Catalyst still plans a
    partial/final-less grouped aggregate over the shuffled groups.
    (Slow path by design — prefer exp(avg(ln)) in pure SQL; this pins
    the API's plumbing: schema, null handling, grouping.)"""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy()).mean()))

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # grouped-agg pandas UDFs cannot mix with built-in aggregates
        # in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the count
        # rides the same Arrow batch
        return len(v)

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    return o.groupBy("o_orderpriority").agg(
        F.round(geomean("o_totalprice"), 4).alias("geomean_price"),
        n_rows("o_totalprice").alias("n"),
    )


@query(
    "collect_set_csv",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
)
def collect_set_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregate surface: the distinct set per group as a
    deterministically-ordered CSV (collect_set is unordered by
    contract, so array_sort pins the output before the join —
    exactly what the oracle's ORDER BY inside string_agg does)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderstatus")), ","
        ).alias("statuses"),
        F.count_distinct("o_orderstatus").cast("bigint").alias("n_statuses"),
    )


@query(
    "bitwise_agg_flags",
    oracle="""
    WITH f AS (
      SELECT o_orderpriority,
             CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 ELSE 4 END
               AS flag
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(bit_or(flag) AS BIGINT) AS any_flags,
           CAST(bit_and(flag) AS BIGINT) AS all_flags
    FROM f GROUP BY o_orderpriority
    """,
)
def bitwise_agg_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise OR/AND aggregation over an encoded flag column — the
    compact presence-mask pattern (which statuses ever/always appear
    per group) that replaces three boolean aggregates with one long."""
    o = load_table(spark, sf_dir, "orders")
    flag = (
        F.when(F.col("o_orderstatus") == "F", 1)
        .when(F.col("o_orderstatus") == "O", 2)
        .otherwise(4)
    )
    return (
        o.select("o_orderpriority", flag.alias("flag"))
        .groupBy("o_orderpriority")
        .agg(
            F.expr("bit_or(flag)").cast("bigint").alias("any_flags"),
            F.expr("bit_and(flag)").cast("bigint").alias("all_flags"),
        )
    )


@query(
    "mad_outliers_robust",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, med.m,
             abs(e.value - med.m) AS ad
      FROM events e JOIN med ON med.event_type = e.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           CAST(round(d.value, 6) AS DOUBLE) AS value,
           CAST(round((d.value - d.m) / (1.4826 * mad.mad), 6) AS DOUBLE)
             AS robust_z
    FROM dev d JOIN mad ON mad.event_type = d.event_type
    WHERE mad.mad > 0.0
      AND abs(d.value - d.m) > 3.0 * 1.4826 * mad.mad
    """,
)
def mad_outliers_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection with the median/MAD rule: per group
    (event_type), flag values more than 3 robust standard deviations
    (1.4826 * MAD) from the group median.  The median-based detector a
    data-quality pipeline wants instead of mean/stddev z-scores — one
    giant outlier inflates the stddev and hides itself, but moves the
    median and MAD almost not at all (50% breakdown point).

    Scale shape: two exact-percentile aggregates over the SAME
    group-keyed relation (median, then median absolute deviation) —
    each a partial+final agg to #groups rows, broadcast back for
    map-side flagging.  Never a per-group sort of the data-scale
    relation.  Arithmetic order is pinned identically in the oracle so
    the boundary comparison sees bit-equal doubles."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5D)").alias("m"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("m"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(ad, 0.5D)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("mad") > 0.0)
            & (F.abs(F.col("value") - F.col("m")) > 3.0 * 1.4826 * F.col("mad"))
        )
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(
                (F.col("value") - F.col("m")) / (1.4826 * F.col("mad")), 6
            ).alias("robust_z"),
        )
    )


@query(
    "winsorize_clip",
    oracle="""
    WITH cuts AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS lo,
             quantile_cont(value, 0.99) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CAST(round(CASE WHEN e.value < c.lo THEN c.lo
                           WHEN e.value > c.hi THEN c.hi
                           ELSE e.value END, 6) AS DOUBLE) AS value_w,
           e.value < c.lo OR e.value > c.hi AS clipped
    FROM events e JOIN cuts c ON c.event_type = e.event_type
    """,
)
def winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each group's values into its own [p01, p99]
    band — the standard outlier-taming transform before training on
    heavy-tailed features (clipping preserves row count where the MAD
    gate drops rows).  ONE exact-percentile aggregate per group
    (partial+final), broadcast back for a map-side clamp — the
    equi-depth-histogram scale pattern; the data relation is never
    sorted or re-shuffled."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    cuts = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01D)").alias("lo"),
        F.expr("percentile(value, 0.99D)").alias("hi"),
    )
    clipped = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        e.join(F.broadcast(cuts), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                F.when(F.col("value") < F.col("lo"), F.col("lo"))
                .when(F.col("value") > F.col("hi"), F.col("hi"))
                .otherwise(F.col("value")),
                6,
            ).alias("value_w"),
            clipped.alias("clipped"),
        )
    )


@query(
    "pareto_revenue_share",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(round(l_extendedprice * (1 - l_discount), 4)
                      AS DECIMAL(18,4))) AS revenue
      FROM lineitem GROUP BY l_suppkey
    ),
    run AS (
      SELECT l_suppkey, revenue,
             SUM(revenue) OVER (ORDER BY revenue DESC, l_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(revenue) OVER () AS total
      FROM rev
    )
    SELECT l_suppkey,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6)
                AS DOUBLE) AS cum_share,
           CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8
             AS in_top_80
    FROM run
    """,
)
def pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / 80-20 analysis: suppliers ranked by revenue with each
    one's CUMULATIVE share of total revenue and an in-top-80% flag —
    the concentration curve behind vendor consolidation and long-tail
    pruning decisions.

    The oracle's ``SUM() OVER (ORDER BY ...)`` with no PARTITION BY is
    the single-partition trap (the per-supplier relation scales with
    SF); the engine runs
    ``functions.enumerate.bucketed_running_sum`` instead — percentile
    cuts on revenue, per-bucket DECIMAL totals prefix-summed into base
    offsets, per-bucket parallel running-sum windows.  DECIMAL sums
    make the decomposition bit-equal to the single window; the grand
    total is a 1-row broadcast."""
    from cascading_hbase_spark.functions.enumerate import bucketed_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            .cast("decimal(18,4)")
        ).alias("revenue")
    )
    run = bucketed_running_sum(
        rev, "revenue", "revenue", sum_col="cum",
        descending=True, n_buckets=32, tiebreak_col="l_suppkey",
    )
    total = rev.agg(F.sum("revenue").alias("_total"))
    share = F.col("cum").cast("double") / F.col("_total").cast("double")
    return (
        run.join(F.broadcast(total))
        .select(
            "l_suppkey",
            F.col("revenue").cast("double").alias("revenue"),
            F.round(share, 6).alias("cum_share"),
            (share <= 0.8).alias("in_top_80"),
        )
    )


@query(
    "weighted_quantiles",
    oracle="""
    WITH li AS (
      SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey * 10 + l_linenumber AS rid
      FROM lineitem
    ),
    rs AS (
      SELECT price, w,
             sum(w) OVER (ORDER BY price, rid
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_w
      FROM li
    ),
    tot AS (SELECT sum(w) AS total_w FROM li)
    SELECT CAST(min(CASE WHEN run_w * 20 >= total_w * 5  THEN price END) AS DOUBLE)
             AS wq25,
           CAST(min(CASE WHEN run_w * 20 >= total_w * 10 THEN price END) AS DOUBLE)
             AS wq50,
           CAST(min(CASE WHEN run_w * 20 >= total_w * 15 THEN price END) AS DOUBLE)
             AS wq75,
           CAST(min(CASE WHEN run_w * 20 >= total_w * 18 THEN price END) AS DOUBLE)
             AS wq90,
           CAST(min(total_w) AS BIGINT) AS total_weight
    FROM rs CROSS JOIN tot
    """,
)
def weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quantiles (p25/p50/p75/p90): the
    smallest price at which the cumulative quantity reaches p of the
    total — 'the median dollar of volume', which plain percentile(price)
    gets wrong whenever weight correlates with value.

    Scale shape: rows collapse to DISTINCT PRICE LEVELS first (one
    map-side-combinable hash aggregate — a weighted quantile only ever
    needs the cumulative weight at each distinct value, so the sorting
    stage never sees the fact table); the cumulative weight over
    levels comes from ``bucketed_running_sum`` (cuts broadcast,
    per-bucket windows — never a single-partition ORDER BY); the
    quantile selection is pure integer arithmetic (run*20 >= total*k —
    no float thresholds, so bucket boundaries can't flip cross-engine)
    folded in ONE aggregate."""
    from cascading_hbase_spark.functions.enumerate import bucketed_running_sum

    levels = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
            F.col("l_quantity").cast("bigint").alias("w"),
        )
        .groupBy("price")
        .agg(F.sum("w").alias("w"))
    )
    rs = bucketed_running_sum(levels, "price", "w", sum_col="run_w")
    tot = levels.agg(F.sum("w").alias("total_w"))
    picked = rs.join(F.broadcast(tot))
    def q(k: int):
        return F.min(
            F.when(F.col("run_w") * 20 >= F.col("total_w") * k, F.col("price"))
        ).cast("double")
    return picked.agg(
        q(5).alias("wq25"),
        q(10).alias("wq50"),
        q(15).alias("wq75"),
        q(18).alias("wq90"),
        F.min("total_w").cast("bigint").alias("total_weight"),
    )


@query(
    "skyline_price_quantity",
    oracle="""
    WITH pts AS (
      SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ),
    levels AS (SELECT price, max(qty) AS max_qty, count(*) AS n_points
               FROM pts GROUP BY price),
    rm AS (
      SELECT price, max_qty, n_points,
             max(max_qty) OVER (ORDER BY price
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_max
      FROM levels
    )
    SELECT CAST(price AS DOUBLE) AS price,
           CAST(max_qty AS BIGINT) AS qty,
           CAST(n_points AS BIGINT) AS n_at_price
    FROM rm WHERE prev_max IS NULL OR max_qty > prev_max
    """,
)
def skyline_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): line items not dominated on
    (price low, quantity high) — a point survives iff no strictly
    cheaper item carries at least its quantity.  The multi-objective
    'best trade-offs' operator behind price-performance dashboards.

    Scale shape: collapse to one row per price level first (hash agg),
    then the strictly-preceding running max comes from
    ``bucketed_running_max(strict=True)`` — the bucket-decomposed
    form of MAX() OVER (ORDER BY price ROWS ... 1 PRECEDING), so no
    single-partition window ever sees the scaling relation."""
    from cascading_hbase_spark.functions.enumerate import bucketed_running_max

    pts = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    levels = pts.groupBy("price").agg(
        F.max("qty").alias("max_qty"), F.count("*").alias("n_points")
    )
    rm = bucketed_running_max(
        levels, "price", "max_qty", max_col="prev_max", strict=True
    )
    return rm.filter(
        F.col("prev_max").isNull() | (F.col("max_qty") > F.col("prev_max"))
    ).select(
        F.col("price").cast("double").alias("price"),
        F.col("max_qty").cast("bigint").alias("qty"),
        F.col("n_points").cast("bigint").alias("n_at_price"),
    )


@query(
    "benford_digit_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM lineitem WHERE l_extendedprice > 0
    ),
    obs AS (SELECT digit, CAST(count(*) AS DOUBLE) AS n FROM d GROUP BY digit),
    tot AS (SELECT sum(n) AS total FROM obs)
    SELECT obs.digit,
           CAST(obs.n AS BIGINT) AS n_obs,
           CAST(round(obs.n / tot.total, 6) AS DOUBLE) AS observed_p,
           CAST(round(log10(1.0 + 1.0 / obs.digit), 6) AS DOUBLE) AS benford_p,
           CAST(round(
             pow(obs.n / tot.total - log10(1.0 + 1.0 / obs.digit), 2)
             / log10(1.0 + 1.0 / obs.digit) * tot.total, 6) AS DOUBLE)
             AS chi2_term
    FROM obs CROSS JOIN tot
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on prices: observed leading-
    digit shares vs the log10(1+1/d) expectation, with each digit's
    chi-square contribution — the classic anomaly screen for
    fabricated or clipped numeric columns (synthetic uniform prices
    fail it loudly, which is itself the finding).

    Scale shape: digit extraction is a map-side expression on the
    DECIMAL's canonical string form; everything after is a 9-row
    relation joined with a 1-row total."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    d = li.select(
        F.substring(
            F.col("l_extendedprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count("*").cast("double").alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    p_obs = F.col("n") / F.col("total")
    return obs.join(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(p_obs, 6).alias("observed_p"),
        F.round(benford, 6).alias("benford_p"),
        F.round(F.pow(p_obs - benford, 2) / benford * F.col("total"), 6).alias(
            "chi2_term"
        ),
    )


@query(
    "gini_concentration",
    oracle="""
    WITH sup AS (
      SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS rev_cents
      FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
      SELECT rev_cents,
             row_number() OVER (ORDER BY rev_cents * 100000 + l_suppkey) AS i,
             count(*) OVER () AS n,
             sum(rev_cents) OVER () AS total
      FROM sup
    )
    SELECT CAST(min(n) AS BIGINT) AS n_suppliers,
           CAST(round(min(total) / 100.0, 2) AS DOUBLE) AS total_revenue,
           CAST(round(
             2.0 * sum(CAST(i AS DOUBLE) * rev_cents) / (min(n) * min(total))
             - (min(n) + 1.0) / min(n), 6) AS DOUBLE) AS gini
    FROM ranked
    """,
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of supplier revenue concentration — the
    0-to-1 inequality number behind 'how dependent are we on our top
    suppliers' (0 = equal shares, 1 = one supplier takes all), via the
    rank formulation G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over
    ascending-revenue ranks.

    Scale shape: revenue is one supplier-keyed DECIMAL aggregate;
    ranks come from ``global_row_index`` on the pure-integer
    (rev_cents, suppkey) composite key — exact cross-engine order, no
    single-partition window; the Gini itself is ONE aggregate over
    the supplier relation."""
    from cascading_hbase_spark.functions.enumerate import global_row_index

    sup = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    keyed = sup.select(
        "rev_cents",
        (F.col("rev_cents") * 100000 + F.col("l_suppkey")).alias("_ukey"),
    )
    ranked = global_row_index(keyed, "_ukey", index_col="_ri")
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.round(F.sum("rev_cents") / 100.0, 2).alias("total_revenue"),
        F.round(
            2.0
            * F.sum((F.col("_ri") + 1).cast("double") * F.col("rev_cents"))
            / (F.count("*") * F.sum("rev_cents"))
            - (F.count("*") + 1.0) / F.count("*"),
            6,
        ).alias("gini"),
    )


@query(
    "correlation_matrix",
    oracle="""
    WITH li AS (
      SELECT CAST(l_quantity AS DOUBLE) AS qty,
             CAST(l_extendedprice AS DOUBLE) AS price,
             CAST(l_discount AS DOUBLE) AS discount,
             CAST(l_tax AS DOUBLE) AS tax
      FROM lineitem
    ),
    wide AS (
      SELECT corr(qty, price) AS c_qty_price,
             corr(qty, discount) AS c_qty_discount,
             corr(qty, tax) AS c_qty_tax,
             corr(price, discount) AS c_price_discount,
             corr(price, tax) AS c_price_tax,
             corr(discount, tax) AS c_discount_tax,
             count(*) AS n
      FROM li
    )
    SELECT col_a, col_b,
           CAST(round(r, 6) AS DOUBLE) AS pearson_r,
           CAST(n AS BIGINT) AS n_rows
    FROM wide, (VALUES
      ('qty', 'price'), ('qty', 'discount'), ('qty', 'tax'),
      ('price', 'discount'), ('price', 'tax'), ('discount', 'tax')
    ) AS pairs(col_a, col_b),
    LATERAL (SELECT CASE col_a || '_' || col_b
               WHEN 'qty_price' THEN c_qty_price
               WHEN 'qty_discount' THEN c_qty_discount
               WHEN 'qty_tax' THEN c_qty_tax
               WHEN 'price_discount' THEN c_price_discount
               WHEN 'price_tax' THEN c_price_tax
               WHEN 'discount_tax' THEN c_discount_tax END AS r) l
    """,
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns (quantity, price, discount, tax) — the multivariate
    extension of ``stats_corr_covar`` and the standard first look at
    feature redundancy, emitted as tidy (col_a, col_b, r) rows.

    Scale shape: all six correlations are single-pass mergeable
    moments computed in ONE aggregate over one scan (never a pass per
    pair); the unpivot to rows runs on the 1-row wide result."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_discount").cast("double").alias("discount"),
        F.col("l_tax").cast("double").alias("tax"),
    )
    cols = ["qty", "price", "discount", "tax"]
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    wide = li.agg(
        F.count("*").alias("n"),
        *[
            F.corr(a, b).alias(f"c_{a}_{b}") for a, b in pairs
        ],
    )
    stack_expr = ", ".join(f"'{a}', '{b}', c_{a}_{b}" for a, b in pairs)
    return wide.select(
        F.expr(
            f"stack({len(pairs)}, {stack_expr}) AS (col_a, col_b, r)"
        ),
        "n",
    ).select(
        "col_a", "col_b",
        F.round("r", 6).alias("pearson_r"),
        F.col("n").cast("bigint").alias("n_rows"),
    )


@query(
    "spearman_by_brand",
    oracle="""
    WITH rows_ AS (
      SELECT p.p_brand AS brand,
             CAST(l.l_extendedprice AS DOUBLE) AS price,
             CAST(l.l_quantity AS DOUBLE) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    rp AS (
      SELECT brand, price,
             sum(c) OVER (PARTITION BY brand ORDER BY price)
               - c + (c + 1) / 2.0 AS rank_price
      FROM (SELECT brand, price, count(*) AS c FROM rows_
            GROUP BY brand, price)
    ),
    rq AS (
      SELECT brand, qty,
             sum(c) OVER (PARTITION BY brand ORDER BY qty)
               - c + (c + 1) / 2.0 AS rank_qty
      FROM (SELECT brand, qty, count(*) AS c FROM rows_
            GROUP BY brand, qty)
    )
    SELECT r.brand,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(corr(rp.rank_price, rq.rank_qty), 6) AS DOUBLE)
             AS spearman_rho
    FROM rows_ r
    JOIN rp ON r.brand = rp.brand AND r.price = rp.price
    JOIN rq ON r.brand = rq.brand AND r.qty = rq.qty
    GROUP BY r.brand
    """,
)
def spearman_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between extended price and quantity
    within each part brand — the robust (monotone, outlier-insensitive)
    counterpart to ``stats_corr_covar``'s Pearson row.

    Average ranks (the tie-correct midrank form) are NOT computed by
    ranking raw rows: each column first collapses to its per-(brand,
    value) count relation, the midrank falls out of a running count —
    ``cum(c) - c + (c+1)/2`` — over that far smaller relation, and rows
    join their midranks back by (brand, value).  Spearman's rho is then
    plain ``corr`` over the midrank pairs, a partial+final aggregate.

    Scale shape: two keyed shuffles per column (distinct-value count,
    join-back) plus the corr aggregate; the only windows run over the
    per-(brand, value) relations, partitioned by brand (bounded by
    value granularity, not row count).  A brand with constant quantity
    yields NULL rho (zero variance) on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_quantity").cast("double").alias("qty"),
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    rows = li.join(part, "l_partkey").select("brand", "price", "qty")

    def midranks(col: str, out: str) -> DataFrame:
        per = rows.groupBy("brand", col).agg(F.count("*").alias("c"))
        w = Window.partitionBy("brand").orderBy(col)
        return per.select(
            "brand",
            col,
            (
                F.sum("c").over(w) - F.col("c") + (F.col("c") + 1) / F.lit(2.0)
            ).alias(out),
        )

    rp = midranks("price", "rank_price")
    rq = midranks("qty", "rank_qty")
    ranked = rows.join(rp, ["brand", "price"]).join(rq, ["brand", "qty"])
    return ranked.groupBy("brand").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.corr("rank_price", "rank_qty"), 6).alias("spearman_rho"),
    )


@query(
    "mann_kendall_theil_sen",
    oracle="""
    WITH ms AS (
      SELECT p.p_brand AS brand,
             date_trunc('month', l.l_shipdate) AS m,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, m
    ),
    pairs AS (
      SELECT a.brand,
             sign(CAST(b.rev - a.rev AS DOUBLE)) AS s,
             CAST(b.rev - a.rev AS DOUBLE)
               / date_diff('month', a.m, b.m) AS slope
      FROM ms a JOIN ms b ON a.brand = b.brand AND a.m < b.m
    ),
    n AS (SELECT brand, count(*) AS n_months FROM ms GROUP BY brand),
    stats AS (
      SELECT p.brand, n.n_months,
             sum(p.s) AS s_stat,
             quantile_cont(p.slope, 0.5) AS ts_slope,
             n.n_months * (n.n_months - 1) * (2 * n.n_months + 5) / 18.0
               AS var_s
      FROM pairs p JOIN n ON p.brand = n.brand
      GROUP BY p.brand, n.n_months
    )
    SELECT brand AS p_brand,
           CAST(n_months AS BIGINT) AS n_months,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                           WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                           ELSE 0.0 END, 6) AS DOUBLE) AS mk_z,
           CAST(round(ts_slope, 6) AS DOUBLE) AS theil_sen_slope,
           CASE WHEN round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                                WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                                ELSE 0.0 END, 6) > 1.96 THEN 'increasing'
                WHEN round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                                WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                                ELSE 0.0 END, 6) < -1.96 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM stats
    """,
)
def mann_kendall_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Theil-Sen robust slope on each
    brand's monthly revenue series: S = sum of pairwise revenue-change
    signs, normal-approximation z with continuity correction, and the
    median pairwise slope as the outlier-resistant trend estimate —
    the nonparametric 'is this really trending' pass that OLS-style
    ``price_elasticity_by_brand`` can't answer (one spiky month drags
    a least-squares slope; the median slope shrugs).  The no-ties
    variance form is used; exact-DECIMAL revenue makes tied months a
    measure-zero event (a tie contributes sign 0 to S either way).

    Scale shape: the corpus collapses to the per-(brand, month)
    relation FIRST (one join + one keyed aggregate); the quadratic
    pairwise self-join runs on that series relation only — bounded by
    months-per-brand squared, independent of fact-table row count.
    Median slope is an exact percentile over the same bounded pair
    relation."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    ms = (
        li.join(part, "l_partkey")
        .groupBy(
            "brand", F.date_trunc("month", "l_shipdate").alias("m")
        )
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("rev")
        )
    )
    a = ms.select("brand", F.col("m").alias("m_a"), F.col("rev").alias("rev_a"))
    b = ms.select("brand", F.col("m").alias("m_b"), F.col("rev").alias("rev_b"))
    diff = (F.col("rev_b") - F.col("rev_a")).cast("double")
    pairs = (
        a.join(b, "brand")
        .filter(F.col("m_a") < F.col("m_b"))
        .select(
            "brand",
            F.signum(diff).alias("s"),
            (diff / F.months_between("m_b", "m_a")).alias("slope"),
        )
    )
    n = ms.groupBy("brand").agg(F.count("*").alias("n_months"))
    stats = (
        pairs.join(n, "brand")
        .groupBy("brand", "n_months")
        .agg(
            F.sum("s").alias("s_stat"),
            F.expr("percentile(slope, 0.5D)").alias("ts_slope"),
        )
        .withColumn(
            "var_s",
            F.col("n_months")
            * (F.col("n_months") - 1)
            * (2 * F.col("n_months") + 5)
            / 18.0,
        )
    )
    z = F.round(
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt("var_s"),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt("var_s"),
        )
        .otherwise(0.0),
        6,
    )
    return stats.select(
        F.col("brand").alias("p_brand"),
        F.col("n_months").cast("bigint").alias("n_months"),
        F.col("s_stat").cast("bigint").alias("s_stat"),
        z.alias("mk_z"),
        F.round("ts_slope", 6).alias("theil_sen_slope"),
        F.when(z > 1.96, "increasing")
        .when(z < -1.96, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


@query(
    "segment_n50_concentration",
    oracle="""
    WITH run AS (
      SELECT c_mktsegment,
             sum(c_acctbal) OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS cum,
             sum(c_acctbal) OVER (PARTITION BY c_mktsegment) AS total
      FROM customer
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN cum * 2 < total THEN 1 ELSE 0 END) + 1
                AS BIGINT) AS n50,
           CAST(round((sum(CASE WHEN cum * 2 < total THEN 1 ELSE 0 END) + 1)
                      / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS n50_share
    FROM run GROUP BY c_mktsegment
    """,
)
def segment_n50_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance concentration per market segment: N50 — the minimum
    number of top-balance customers holding half the segment's total
    account balance (and its share of the segment).  The per-group
    twin of ``pareto_revenue_share``'s global 80/20 curve.

    Scale shape: the per-segment cumulative balance comes from
    ``functions.enumerate.grouped_running_sum`` — per-GROUP percentile
    cuts, windows partitioned by (segment, bucket) — because at 100 TB
    a PARTITION BY segment window puts 1/#segments of the data on one
    task (segments number ~5: that is the aggregation-skew shape).
    Segment totals join back as a #segments-row keyed join, and N50
    folds out of one conditional count.  Exact DECIMAL arithmetic
    (cum*2 < total) keeps the boundary engine-stable."""
    from cascading_hbase_spark.functions.enumerate import grouped_running_sum

    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_acctbal", "c_custkey"
    )
    run = grouped_running_sum(
        c,
        "c_mktsegment",
        "c_acctbal",
        "c_acctbal",
        sum_col="cum",
        descending=True,
        tiebreak_col="c_custkey",
    )
    totals = c.groupBy("c_mktsegment").agg(F.sum("c_acctbal").alias("total"))
    in_half = F.when(F.col("cum") * 2 < F.col("total"), 1).otherwise(0)
    return (
        run.join(totals, "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            (F.sum(in_half) + 1).cast("bigint").alias("n50"),
            F.round(
                (F.sum(in_half) + 1) / F.count("*").cast("double"), 6
            ).alias("n50_share"),
        )
    )


@query(
    "ols_two_factor",
    oracle="""
    WITH d AS (
      SELECT CAST(l_quantity AS DOUBLE) AS y,
             ln(CAST(l_extendedprice AS DOUBLE)
                / CAST(l_quantity AS DOUBLE)) AS x1,
             CAST(l_discount AS DOUBLE) AS x2
      FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    m AS (
      SELECT count(*) AS n,
             avg(y) AS my, avg(x1) AS m1, avg(x2) AS m2,
             var_pop(x1) AS v1, var_pop(x2) AS v2, var_pop(y) AS vy,
             covar_pop(x1, x2) AS c12,
             covar_pop(x1, y) AS c1y,
             covar_pop(x2, y) AS c2y
      FROM d
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(round((v2*c1y - c12*c2y) / nullif(v1*v2 - c12*c12, 0.0), 6)
                AS DOUBLE) AS b_log_price,
           CAST(round((v1*c2y - c12*c1y) / nullif(v1*v2 - c12*c12, 0.0), 6)
                AS DOUBLE) AS b_discount,
           CAST(round(my - (v2*c1y - c12*c2y) / nullif(v1*v2 - c12*c12, 0.0) * m1
                         - (v1*c2y - c12*c1y) / nullif(v1*v2 - c12*c12, 0.0) * m2,
                      6) AS DOUBLE) AS intercept,
           CAST(round(((v2*c1y - c12*c2y) / nullif(v1*v2 - c12*c12, 0.0) * c1y
                     + (v1*c2y - c12*c1y) / nullif(v1*v2 - c12*c12, 0.0) * c2y)
                      / nullif(vy, 0.0), 6) AS DOUBLE) AS r2
    FROM m
    """,
)
def ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-predictor OLS fit in ONE distributed pass: regress order
    quantity on log unit price and discount via the closed-form
    normal-equation solution over population moments
    (b = Σxx⁻¹ Σxy expanded for k=2) — multiple regression without
    collecting anything, the step past
    ``price_elasticity_by_brand``'s single-regressor slope.

    Scale shape: all ten moments (count/means/variances/covariances)
    are mergeable single-pass aggregates over map-side transforms —
    the whole fit is one partial+final aggregate and 1-row arithmetic;
    a collinear design (zero determinant) degrades to NULL
    coefficients via nullif rather than an error."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    d = li.select(
        F.col("l_quantity").cast("double").alias("y"),
        F.log(
            F.col("l_extendedprice").cast("double")
            / F.col("l_quantity").cast("double")
        ).alias("x1"),
        F.col("l_discount").cast("double").alias("x2"),
    )
    m = d.agg(
        F.count("*").alias("n"),
        F.avg("y").alias("my"), F.avg("x1").alias("m1"), F.avg("x2").alias("m2"),
        F.var_pop("x1").alias("v1"), F.var_pop("x2").alias("v2"),
        F.var_pop("y").alias("vy"),
        F.covar_pop("x1", "x2").alias("c12"),
        F.covar_pop("x1", "y").alias("c1y"),
        F.covar_pop("x2", "y").alias("c2y"),
    )
    det = F.nullif(
        F.col("v1") * F.col("v2") - F.col("c12") * F.col("c12"), F.lit(0.0)
    )
    b1 = (F.col("v2") * F.col("c1y") - F.col("c12") * F.col("c2y")) / det
    b2 = (F.col("v1") * F.col("c2y") - F.col("c12") * F.col("c1y")) / det
    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(b1, 6).alias("b_log_price"),
        F.round(b2, 6).alias("b_discount"),
        F.round(
            F.col("my") - b1 * F.col("m1") - b2 * F.col("m2"), 6
        ).alias("intercept"),
        F.round(
            (b1 * F.col("c1y") + b2 * F.col("c2y"))
            / F.nullif(F.col("vy"), F.lit(0.0)),
            6,
        ).alias("r2"),
    )


@query(
    "exact_grouped_median_scalable",
    oracle="""
    WITH per AS (
      SELECT p.p_brand AS brand, l.l_extendedprice AS v, count(*) AS c
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, v
    ),
    rk AS (
      SELECT brand, v, c,
             sum(c) OVER (PARTITION BY brand ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY brand) AS n
      FROM per
    )
    SELECT brand AS p_brand,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(round((min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
                       + min(CASE WHEN cum >= (n + 2) // 2 THEN v END))
                      / 2.0, 6) AS DOUBLE) AS exact_median
    FROM rk GROUP BY brand
    """,
)
def exact_grouped_median_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median without the exact-percentile memory
    trap: Spark's ``percentile`` builds a full value->count map per
    group IN ONE TASK (the reason ``percentile_agg`` documents
    approx_percentile as the scale path).  This gets exactness AND
    scale from the midrank-count decomposition: collapse to
    per-(group, value) counts, cumulative counts over that compact
    relation locate the order statistics at ranks floor/ceil((n+1)/2),
    and the median is their mean (exact DECIMAL until the final
    divide).  The same two-conditional-min pattern yields ANY exact
    quantile.

    Scale shape: one keyed count (the only corpus-scale shuffle),
    windows over the per-(group, value) relation (bounded by value
    granularity), one final aggregate.  No per-group value map ever
    materializes in a single task."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    per = (
        li.join(part, "l_partkey")
        .groupBy("brand", F.col("l_extendedprice").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    rk = per.select(
        "brand", "v", "c",
        F.sum("c").over(Window.partitionBy("brand").orderBy("v")).alias("cum"),
        F.sum("c").over(Window.partitionBy("brand")).alias("n"),
    )
    return (
        rk.withColumn("rlo", F.floor((F.col("n") + 1) / 2))
        .withColumn("rhi", F.floor((F.col("n") + 2) / 2))
        .groupBy("brand")
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            F.round(
                (
                    F.min(F.when(F.col("cum") >= F.col("rlo"), F.col("v")))
                    + F.min(F.when(F.col("cum") >= F.col("rhi"), F.col("v")))
                )
                / 2.0,
                6,
            ).alias("exact_median"),
        )
        .withColumnRenamed("brand", "p_brand")
    )
