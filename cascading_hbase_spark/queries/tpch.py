"""TPC-H query shapes beyond the Q3/Q4/Q13/Q17/Q18 set in
``queries/joins.py`` — the classic decision-support compositions a
Cascading user would have expressed as multi-pipe flows
(CoGroup + Every + GroupBy chains; SURVEY.md §2.3-2.4).

Each is written plan-first for 100 TB: selective dim filters push to
scans, fact-fact joins shuffle on their keys, aggregates run
partial+final, top-k is TakeOrderedAndProject.  Broadcast hints appear
ONLY on relations whose size does not scale with the data — nation/
region (fixed cardinality) and 1-row aggregates.  supplier/customer/
part grow with SF, so their joins stay unhinted: Catalyst's size
estimate (and AQE at runtime) picks broadcast at test scale and
sort-merge at 100 TB — a hand-written hint would instead try to
broadcast billions of rows.
Money sums go through round+DECIMAL so the DuckDB oracle matches
bit-for-bit (the float-reassociation guard used by every money query
in this repo).

The testdata schema trims some TPC-H columns (no partsupp table, no
l_shipmode/l_commitdate/l_receiptdate, no c_phone); Q12/Q19/Q22 keep
their canonical *shape* (conditional two-class agg over a join /
disjunctive multi-bracket predicate / anti-join against a global
scalar) on the columns that exist, and Q2/Q9/Q11/Q16/Q20 (partsupp
queries) are out of scope.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cascading_hbase_spark.catalog import load_table
from cascading_hbase_spark.queries import query

def _rev_dec():
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    ).cast("decimal(18,4)")


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
                    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table snowflake with the
    extra LOCAL constraint (supplier and customer share a nation).
    region->nation prunes the nation dim before it broadcasts; the
    supplier/customer joins are left to Catalyst's size estimates
    (broadcast here, sort-merge at scale); the one unavoidable big
    shuffle is lineitem-orders on orderkey."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            c,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount, 4)
                    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-filter-agg —
    every predicate pushes to the parquet scan, no shuffle at all
    beyond the 1-row final agg.  The degenerate-but-important shape:
    at 100 TB this is IO-bound and the plan must show PushedFilters."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount"), 4)
                .cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
                    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bidirectional nation-pair filter.
    The disjunction lives ABOVE the two broadcast nation joins (it
    references both sides), but each nation join itself pre-filters to
    the 2 relevant nations, so the fact rows that survive to the
    disjunction are already pruned to the pair's traffic."""
    pair = ("NATION_1", "NATION_2")
    n1 = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)
    ).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)
    ).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
        .select(
            "supp_nation", "cust_nation",
            F.col("l_year").cast("bigint").alias("l_year"), "revenue",
        )
    )


@query(
    "q8_market_share",
    oracle="""
    WITH volumes AS (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
                  AS DECIMAL(18,4)) AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON l.l_partkey = p.p_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
           CAST(round(
             CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share
    FROM volumes GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): numerator and denominator in
    ONE aggregation pass (conditional sum), fixed-size nation/region
    broadcast (part/supplier/customer joins picked by size estimate),
    ratio computed after exact DECIMAL accumulation so the division is
    the only float op."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("c_nk"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    vol = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev_dec().alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        vol.groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)
            ).alias("_num"),
            F.sum("volume").alias("_den"),
        )
        .select(
            F.col("o_year").cast("bigint").alias("o_year"),
            F.round(
                F.col("_num").cast("double") / F.col("_den").cast("double"), 6
            ).alias("mkt_share"),
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
                    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned item reporting): quarter of orders joined to
    returned lineitems, grouped per customer, distributed top-20.  The
    returnflag filter pushes to the lineitem scan; nation broadcasts
    (customer by size estimate); TakeOrderedAndProject caps the result
    without a global sort."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90 THEN '90+'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 60 THEN '61-90'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 30 THEN '31-60'
                ELSE '0-30' END AS lateness,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY lateness
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority) on the
    trimmed schema: the two-class conditional count over an
    orders-lineitem join, grouped by ship-lateness bucket in place of
    the absent l_shipmode.  One fact-fact shuffle on orderkey, then a
    4-row hash agg — the both-classes-in-one-pass shape is the point."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(late > 90, "90+")
        .when(late > 60, "61-90")
        .when(late > 30, "31-60")
        .otherwise("0-30")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("lateness"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(round(
             100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
                         AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
                    AS DECIMAL(18,4))) AS DOUBLE), 6) AS DOUBLE) AS promo_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): percent-of-total in one aggregation
    — part join by size estimate, conditional DECIMAL sums, single
    float division at the end."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", _rev_dec()).otherwise(zero)
            ).alias("_promo"),
            F.sum(_rev_dec()).alias("_all"),
        )
        .select(
            F.round(
                F.lit(100.0) * F.col("_promo").cast("double")
                / F.col("_all").cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(round(l_extendedprice * (1 - l_discount), 4)
                 AS DECIMAL(18,4))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON r.supplier_no = s.s_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): a view-over-aggregate compared against
    its own MAX — the max is a 1-ROW aggregate of the revenue view
    broadcast back, NOT ``max() OVER ()``: the empty-frame window would
    move the whole |suppliers| relation (which scales with SF) through
    one task, the exact single-partition trap
    ``functions/enumerate.py`` exists to avoid.  The revenue view
    appears as two consumers of an identical subtree, which Spark
    dedupes via ReusedExchange — one lineitem scan, no cache.  The
    equality runs on exact DECIMAL so ties (and the oracle) agree
    bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_dec()).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@query(
    "q19_bracket_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
                    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): disjunction of
    (brand, size, quantity) brackets spanning BOTH join sides.  The
    part-side disjuncts (brand IN set, size <= max bound) are
    derivable and push into the part scan, shrinking the build side
    BEFORE the join; the mixed predicate evaluates after it — the
    canonical 'OR across tables' probe for join-predicate handling."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        # derivable part-side reduction of the disjunction: shrinks the
        # broadcast table without changing the final predicate
        F.col("p_brand").isin("Brand#15", "Brand#23", "Brand#21")
        & (F.col("p_size") >= 1) & (F.col("p_size") <= 35)
    )
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    bracket = (
        ((brand == "Brand#15") & size.between(1, 15) & qty.between(1, 15))
        | ((brand == "Brand#23") & size.between(1, 25) & qty.between(10, 30))
        | ((brand == "Brand#21") & size.between(1, 35) & qty.between(20, 40))
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(bracket)
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
    )


@query(
    "q22_idle_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(round(c.c_acctbal, 2) AS DECIMAL(18,2)))
                AS DOUBLE) AS totacctbal
    FROM customer c CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): above-global-average
    account balance (scalar subquery -> broadcast 1-row join) AND gone
    idle — no orders since 1999 (NOT EXISTS -> left anti join; the date
    predicate replaces the canonical 'no orders at all', which is
    degenerate on this testdata where every customer has orders),
    grouped per nation in place of the absent phone country code.  The
    anti join carries only custkeys from the orders side."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_ab")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_ab"))
        .join(o, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum(F.round(F.col("c_acctbal"), 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@query(
    "q21_suppliers_kept_waiting",
    bench=True,
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND date_diff('day', o.o_orderdate, l1.l_shipdate) > 90
      AND n.n_name = 'NATION_5'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND date_diff('day', o.o_orderdate, l3.l_shipdate) > 90)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting) — the hardest
    partsupp-free query: late lines on finished orders where ANOTHER
    supplier was also on the order (EXISTS) but NO other supplier was
    late (NOT EXISTS).  "Late" is datediff(ship, order) > 90 days, the
    same proxy as Q12's 90+ bucket on this trimmed schema.

    Plan-first rewrite: the canonical double correlated subquery would
    self-join lineitem twice.  Instead, ONE pass over the F-order
    lines (r13; the r12 cut built the lineitem-orders join twice —
    once for the order stats and again for the qualifying late lines)
    reduces to distinct (order, supplier) pairs carrying the LATE LINE
    COUNT, never the Expand plan of a double countDistinct; the
    per-order supplier/late-supplier counts derive from that pair
    relation, and a pair qualifies iff it is late, its order has >1
    distinct suppliers and exactly 1 distinct late supplier (which
    must then be the pair's own — the pair is late, so its supplier is
    among the late set).  numwait then sums the qualifying pairs' late
    line counts — the same multiplicity the l1-row count gave, without
    re-reading lineitem.  The pair aggregate, the order-stats
    aggregate and their join all reuse the orderkey partitioning from
    the orders join, so lineitem is shuffled (at most) once.  The
    nation dim filter broadcasts; supplier stays unhinted (scales
    with SF)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90
    per_supp = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(late.cast("int")).alias("_n_late_lines")
    )
    # Per-order stats as WINDOWS over the pair relation, not a second
    # aggregate joined back: a join-back duplicates the whole
    # lineitem-orders-pairs subtree in the plan (reusing the DataFrame
    # object does not dedupe subtrees, and column pruning makes the
    # two branches' exchanges non-identical so AQE's ReusedExchange
    # cannot either).  The window form is LINEAR — and because the
    # pair relation is already hash-partitioned by a subset
    # (l_orderkey, from the orders join / the pair aggregate), the
    # window adds only a partition-local sort, no exchange.
    w = Window.partitionBy("l_orderkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        per_supp.select(  # one projection -> ONE Window node for both
            "*",
            F.count("*").over(w).alias("_n_supp"),
            F.sum((F.col("_n_late_lines") > 0).cast("int"))
            .over(w)
            .alias("_n_late_supp"),
        )
        .filter(
            (F.col("_n_late_lines") > 0)
            & (F.col("_n_supp") > 1)
            & (F.col("_n_late_supp") == 1)
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("_n_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
