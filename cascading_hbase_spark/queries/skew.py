"""Skew-mitigation query pairs: the salted forms return results
identical to their unsalted equivalents, so the oracle is the plain
SQL — what's under test is that the skew-safe physical strategy
preserves exact semantics."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cascading_hbase_spark.catalog import load_table
from cascading_hbase_spark.functions.skew import salted_join, salted_two_phase_agg
from cascading_hbase_spark.queries import query


@query(
    "salted_two_phase_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def salted_two_phase_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over a low-cardinality (maximally skewed) key via
    salting: phase 1 spreads each hot key over 16 salt reducers,
    phase 2 merges partials.  Values match the direct groupBy."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(18,2)")
    )
    out = salted_two_phase_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("sum", "qty_dec"),
            "n_rows": ("count", "l_quantity"),
            "max_price": ("max", "l_extendedprice"),
        },
        n_salt=16,
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        "n_rows",
        "max_price",
    )


@query(
    "salted_join_rollup",
    oracle="""
    SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def salted_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi-join (salted big side, replicated small side)
    followed by a rollup; identical rows to the plain join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    joined = salted_join(o, c, ["o_custkey"], n_salt=16)
    return joined.groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@query(
    "approx_distinct_sketch",
    # The sketch estimate itself can't be reproduced in DuckDB (different
    # HLL implementation), but its documented accuracy contract CAN be
    # checked exactly: the oracle computes the exact distinct count and
    # asserts the estimate fell within 5x the configured rsd (a >5-sigma
    # band — deterministic-in-practice for HLL++'s guarantees).  Spark
    # emits the measured boolean; hash equality fails iff the sketch
    # blows its bound.
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(1 AS BOOLEAN) AS within_rsd_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct per group — the sketch path
    for 100 TB cardinality estimation.  Emits the exact count (hash-
    matched) plus ``within_rsd_bound``: |approx - exact| / exact <=
    5*rsd, the sketch's checkable accuracy contract."""
    li = load_table(spark, sf_dir, "lineitem")
    rsd = 0.02
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=rsd).alias("approx_orders"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count("*").alias("n_rows"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "n_rows",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            / F.col("exact_orders")
            <= 5 * rsd
        ).alias("within_rsd_bound"),
    )


_H = "CAST(('0x' || substring(md5({x}), 1, 15)) AS BIGINT)"
_BLOOM_M = 1 << 14  # 16384 bits -> 512 words; small enough to broadcast anywhere
_BLOOM_POS = (
    "{h} % {m}".replace("{m}", str(_BLOOM_M))
)


def _pos_sql(i: int, key: str) -> str:
    return _BLOOM_POS.format(
        h=_H.format(x=f"concat('{i}#', CAST({key} AS VARCHAR))")
    )


@query(
    "bloom_semi_filter_contract",
    oracle=f"""
    WITH pos AS (
      SELECT {_H.format(x="concat(CAST(i AS VARCHAR), '#', CAST(c_custkey AS VARCHAR))")}
               % {_BLOOM_M} AS pos
      FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
    ),
    words AS (
      SELECT pos // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
      FROM pos GROUP BY 1
    ),
    probe AS (
      SELECT o_orderkey, o_custkey,
             {_pos_sql(0, "o_custkey")} AS p0,
             {_pos_sql(1, "o_custkey")} AS p1,
             {_pos_sql(2, "o_custkey")} AS p2
      FROM orders
    ),
    flag AS (
      SELECT p.o_custkey,
             (w0.bits IS NOT NULL AND (w0.bits
                & (CAST(1 AS BIGINT) << CAST(p0 % 32 AS INTEGER)))
                = (CAST(1 AS BIGINT) << CAST(p0 % 32 AS INTEGER)))
         AND (w1.bits IS NOT NULL AND (w1.bits
                & (CAST(1 AS BIGINT) << CAST(p1 % 32 AS INTEGER)))
                = (CAST(1 AS BIGINT) << CAST(p1 % 32 AS INTEGER)))
         AND (w2.bits IS NOT NULL AND (w2.bits
                & (CAST(1 AS BIGINT) << CAST(p2 % 32 AS INTEGER)))
                = (CAST(1 AS BIGINT) << CAST(p2 % 32 AS INTEGER))) AS pass
      FROM probe p
      LEFT JOIN words w0 ON w0.word = p.p0 // 32
      LEFT JOIN words w1 ON w1.word = p.p1 // 32
      LEFT JOIN words w2 ON w2.word = p.p2 // 32
    ),
    exact AS (SELECT DISTINCT c_custkey FROM customer
              WHERE c_mktsegment = 'BUILDING')
    SELECT CAST(SUM(CASE WHEN e.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(SUM(CASE WHEN f.pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN f.pass AND e.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN e.c_custkey IS NOT NULL AND NOT f.pass THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missed
    FROM flag f LEFT JOIN exact e ON e.c_custkey = f.o_custkey
    """,
)
def bloom_semi_filter_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast Bloom-filter join pruning, with its correctness
    contract made checkable: build a 16 Kbit bloom over BUILDING-
    segment customer keys, probe every order map-side (k=3 broadcast
    word lookups, zero shuffles of the fact side), and report
    (n_exact, n_bloom_pass, n_false_pos, n_missed).  The Bloom
    guarantee is n_missed = 0 and n_bloom_pass >= n_exact; the oracle
    rebuilds the bit-identical bitmap in DuckDB, so even the false-
    positive count is exact-checked.

    At 100 TB this is the lever that prunes a fact-table shuffle by
    the selectivity of the dim predicate before the real join runs."""
    from cascading_hbase_spark.functions.bloom import bloom_build, bloom_probe_flag

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bloom = bloom_build(keys, "c_custkey", m_bits=_BLOOM_M, k=3)
    flagged = bloom_probe_flag(
        orders.select("o_orderkey", "o_custkey"), "o_custkey", bloom,
        m_bits=_BLOOM_M, k=3, flag="pass",
    )
    exact = keys.distinct().withColumn("_is_exact", F.lit(True))
    j = flagged.join(
        # exact is the BUILDING-segment key set — scales with SF, so
        # the join strategy is left to the size estimate
        exact, flagged["o_custkey"] == exact["c_custkey"], "left"
    )
    is_exact = F.col("_is_exact").isNotNull()
    return j.agg(
        F.sum(F.when(is_exact, 1).otherwise(0)).cast("bigint").alias("n_exact"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("bigint").alias("n_bloom_pass"),
        F.sum(F.when(F.col("pass") & ~is_exact, 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
        F.sum(F.when(is_exact & ~F.col("pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missed"),
    )


@query(
    "hll_sketch_merge_contract",
    # Mergeability is the property that matters at 100 TB: per-segment
    # sketches build in one pass (partial+final agg), persist tiny, and
    # union to the corpus answer without re-scanning — the incremental
    # pattern for distinct counts over arriving data.  The oracle checks
    # the documented accuracy contract (DataSketches HLL lgK=12 ~ 1.6%
    # rse; 5x band) against the exact count, plus the exact inputs.
    oracle="""
    SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_sketches,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS BOOLEAN) AS within_bound
    FROM events
    """,
)
def hll_sketch_merge_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL sketches merged via ``hll_union_agg``: the
    union's estimate must land within the sketch's error band of the
    exact global distinct-user count.  Builds one sketch per segment
    (as an incremental pipeline would persist them), then merges —
    never re-scanning raw data for the global answer."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = sk.agg(
        F.count("*").cast("bigint").alias("n_sketches"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = ev.agg(F.count_distinct("user_id").cast("bigint").alias("exact_users"))
    return merged.join(exact).select(
        "n_sketches",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users")) / F.col("exact_users")
            <= 0.08
        ).alias("within_bound"),
    )


@query(
    "heavy_hitters_sketch",
    bench=True,
    # The candidate SET is partition-dependent, but the Misra-Gries
    # guarantee is not: every token with global frequency > N/k must be
    # among the candidates.  Spark emits the exact heavy hitters (an
    # exact, deterministic relation) plus the measured membership
    # boolean; the oracle computes the same heavy hitters exactly and
    # asserts membership TRUE.  Hash equality fails iff the sketch ever
    # drops a true heavy hitter.
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
    exact AS (SELECT t, count(*) AS c FROM tok GROUP BY t)
    SELECT exact.t AS token, CAST(exact.c AS BIGINT) AS exact_count,
           CAST(1 AS BOOLEAN) AS in_candidates
    FROM exact CROSS JOIN tot
    WHERE exact.c > tot.n / 64.0
    """,
)
def heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory heavy hitters: Misra-Gries partial summaries per
    partition (Arrow mapInPandas, <= k counters each) merged by one
    hash agg; tokens with global frequency > N/k are guaranteed to be
    candidates.  The exact path then scores candidates only — the
    pattern for top-token accounting when the full token key space
    stops fitting."""
    from cascading_hbase_spark.functions.skew import misra_gries_candidates

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t"))
    cand = misra_gries_candidates(tok, "t", k=64).select(
        F.col("t").alias("token")
    )
    # The grand total is a 1-ROW sum of the vocabulary aggregate
    # broadcast back — not sum(c) OVER (), whose empty-frame window
    # would funnel the whole per-token relation through one task
    # (vocabulary grows with corpus size at 100 TB of text).  The
    # vocabulary aggregate feeds both consumers as an identical
    # subtree, which Spark dedupes via ReusedExchange — one corpus
    # scan, no cache, nothing pinned across the driver's session.
    exact = tok.groupBy("t").agg(F.count("*").alias("c"))
    tot = exact.agg(F.sum("c").cast("double").alias("_n"))
    hh = exact.join(F.broadcast(tot)).filter(F.col("c") > F.col("_n") / 64.0)
    return hh.join(
        cand, hh.t == cand.token, "left"
    ).select(
        F.col("t").alias("token"),
        F.col("c").cast("bigint").alias("exact_count"),
        F.col("token").isNotNull().alias("in_candidates"),
    )


_CMS_W = 512  # buckets per row; 3 rows -> <=1536 counters, broadcastable anywhere


@query(
    "cms_frequency_contract",
    bench=True,
    # Unlike the HLL contract (whose sketch internals differ per
    # engine), the count-min sketch here is built from the shared
    # md5-derived hash64, so DuckDB rebuilds the BIT-IDENTICAL sketch:
    # the estimates themselves hash-match, and the CMS guarantee
    # (estimate >= exact, always) is carried as a checked column.
    oracle=f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents WHERE text IS NOT NULL),
    cells AS (
      SELECT i,
             {_H.format(x="concat(CAST(i AS VARCHAR), '#', t)")} % {_CMS_W} AS bucket
      FROM tok CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
    ),
    sketch AS (SELECT i, bucket, count(*) AS c FROM cells GROUP BY i, bucket),
    exact AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    top AS (SELECT t, c FROM exact ORDER BY c DESC, t LIMIT 30),
    probe AS (
      SELECT top.t, top.c, s.c AS cell
      FROM top
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) rows
      JOIN sketch s
        ON s.i = rows.j
       AND s.bucket = {_H.format(x="concat(CAST(rows.j AS VARCHAR), '#', top.t)")} % {_CMS_W}
    )
    SELECT t AS token, CAST(min(c) AS BIGINT) AS exact_count,
           CAST(min(cell) AS BIGINT) AS cms_estimate,
           CAST(min(cell) >= min(c) AS BOOLEAN) AS never_underestimates
    FROM probe GROUP BY t
    """,
)
def cms_frequency_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimation with the sketch
    rebuilt bit-identically by the oracle: 3 hash rows x 512 buckets
    over the corpus token stream, estimate = min over rows of the
    probed counter.  Reports the estimate next to the exact count for
    the 30 most frequent tokens plus the CMS one-sided guarantee
    (never underestimates).

    This is the mergeable fixed-memory frequency sketch for 100 TB
    streams: per-partition sketches are plain (row, bucket) partial
    counts, so ONE partial+final hash aggregate builds the global
    sketch (<= 1536 counters, broadcast back for probing) no matter
    the corpus size; token text never enters the sketch shuffle.

    r13: the sketch cells derive from the VOCABULARY relation (each
    distinct token weighted by its exact count — bit-identical sums by
    associativity) rather than re-exploding the corpus token stream;
    this query computes the exact counts anyway for the contract
    columns, so the vocabulary aggregate feeds sketch, top-30 and
    probe from ONE corpus scan (ReusedExchange in the plan).  A
    production CMS built WITHOUT the exact audit keeps the direct
    per-occurrence shape described above."""
    from cascading_hbase_spark.functions.hashing import hash64

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select(F.explode(F.split("text", " ")).alias("t"))

    def _bucket(row: int, col):
        return hash64(F.concat(F.lit(f"{row}#"), col)) % _CMS_W

    exact = tok.groupBy("t").agg(F.count("*").alias("c"))
    cells = exact.select(
        "c",
        F.posexplode(
            F.array(*[_bucket(i, F.col("t")) for i in range(3)])
        ).alias("i", "bucket"),
    )
    sketch = cells.groupBy("i", "bucket").agg(F.sum("c").alias("cell"))
    top = exact.orderBy(F.col("c").desc(), "t").limit(30)
    probes = top.select(
        "t", "c",
        F.posexplode(
            F.array(*[_bucket(i, F.col("t")) for i in range(3)])
        ).alias("i", "bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("t", "c")
        .agg(F.min("cell").alias("cms_estimate"))
    )
    return est.select(
        F.col("t").alias("token"),
        F.col("c").cast("bigint").alias("exact_count"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") >= F.col("c")).alias("never_underestimates"),
    )


@query(
    "hll_overlap_estimate",
    # Sketch algebra: |A∩B| = |A| + |B| - |A∪B| from three HLLs —
    # no exact pass over either set.  The estimate itself differs per
    # engine, so (as with the other sketch contracts) the oracle
    # checks the exact inputs plus the documented accuracy band: the
    # inclusion-exclusion difference accumulates ~3x the per-sketch
    # rse, so the band is 15% of the union size.
    oracle="""
    WITH clickers AS (SELECT DISTINCT user_id FROM events
                      WHERE event_type = 'click'),
    purchasers AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'purchase')
    SELECT CAST((SELECT count(*) FROM clickers) AS BIGINT) AS exact_clickers,
           CAST((SELECT count(*) FROM purchasers) AS BIGINT) AS exact_purchasers,
           CAST((SELECT count(*) FROM clickers c
                 JOIN purchasers p ON p.user_id = c.user_id) AS BIGINT)
             AS exact_overlap,
           CAST(1 AS BOOLEAN) AS within_band
    """,
)
def hll_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation by sketch algebra: clicker and
    purchaser HLL sketches built in one pass each, their union via
    ``hll_union``, and the intersection by inclusion-exclusion —
    |A∩B| = |A| + |B| - |A∪B| — without ever joining the raw sets.
    The segment-overlap question every audience system answers at
    scale from stored per-segment sketches.

    Emits the exact counts (hash-matched) plus ``within_band``: the
    estimate within 15% of the union-sized error budget (3x sketch
    rse accumulated by the subtraction — the documented trade of
    sketch-algebra overlap vs an exact join)."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.filter(F.col("event_type").isin("click", "purchase")).groupBy(
        "event_type"
    ).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact"),
    )
    wide = sk.agg(
        F.hll_sketch_estimate(
            F.min(F.when(F.col("event_type") == "click", F.col("sk")))
        ).alias("est_c"),
        F.hll_sketch_estimate(
            F.min(F.when(F.col("event_type") == "purchase", F.col("sk")))
        ).alias("est_p"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_u"),
        F.min(F.when(F.col("event_type") == "click", F.col("exact"))).alias(
            "exact_clickers"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("exact"))).alias(
            "exact_purchasers"
        ),
    )
    exact_overlap = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .join(
            ev.filter(F.col("event_type") == "purchase")
            .select("user_id")
            .distinct(),
            "user_id",
        )
        .agg(F.count("*").alias("exact_overlap"))
    )
    est_overlap = F.col("est_c") + F.col("est_p") - F.col("est_u")
    return wide.join(F.broadcast(exact_overlap)).select(
        F.col("exact_clickers").cast("bigint").alias("exact_clickers"),
        F.col("exact_purchasers").cast("bigint").alias("exact_purchasers"),
        F.col("exact_overlap").cast("bigint").alias("exact_overlap"),
        (
            F.abs(est_overlap - F.col("exact_overlap"))
            <= 0.15 * F.col("est_u")
        ).alias("within_band"),
    )


@query(
    "join_key_skew_report",
    oracle="""
    WITH pk AS (SELECT l_partkey AS k FROM lineitem),
    sk AS (SELECT l_suppkey AS k FROM lineitem),
    ck AS (SELECT o_custkey AS k FROM orders),
    rep AS (
      SELECT 'lineitem.l_partkey' AS key_col, count(*) AS c
      FROM pk GROUP BY k
      UNION ALL
      SELECT 'lineitem.l_suppkey', count(*) FROM sk GROUP BY k
      UNION ALL
      SELECT 'orders.o_custkey', count(*) FROM ck GROUP BY k
    )
    SELECT key_col,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS DOUBLE)
             AS top1_share,
           CAST(round(quantile_cont(c, 0.99)
                      / nullif(quantile_cont(c, 0.5), 0.0), 6) AS DOUBLE)
             AS p99_med_ratio
    FROM rep GROUP BY key_col
    """,
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for the three hottest shuffle keys:
    per-key row counts folded to top-1 share and p99/median ratio —
    the numbers that decide whether a join needs AQE's skew splitter,
    salting (``functions/skew.py`` policy), or nothing.  The
    measurement companion to the policy doc: run this BEFORE choosing
    a mitigation.

    Scale shape: one keyed count per column (partial+final), then the
    stats aggregate over the per-key-count relation (key cardinality,
    not row count).  The percentiles are exact but run only over that
    collapsed relation — the same bound as every sketch audit here."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def branch(df: DataFrame, col: str, label: str) -> DataFrame:
        return (
            df.groupBy(F.col(col).alias("k"))
            .agg(F.count("*").alias("c"))
            .select(F.lit(label).alias("key_col"), "c")
        )

    rep = (
        branch(li, "l_partkey", "lineitem.l_partkey")
        .unionByName(branch(li, "l_suppkey", "lineitem.l_suppkey"))
        .unionByName(branch(orders, "o_custkey", "orders.o_custkey"))
    )
    return rep.groupBy("key_col").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top1_share"),
        F.round(
            F.expr("percentile(c, 0.99D)")
            / F.nullif(F.expr("percentile(c, 0.5D)"), F.lit(0.0)),
            6,
        ).alias("p99_med_ratio"),
    )


@query(
    "horvitz_thompson_revenue",
    oracle=f"""
    WITH strat AS (
      SELECT o_orderpriority, o_totalprice,
             0.04 * CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS rate,
             {_H.format(x="concat('ht#', CAST(o_orderkey AS VARCHAR))")}
               % 1000000 AS u
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN u < rate * 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS true_total,
           CAST(round(sum(CASE WHEN u < rate * 1000000
                               THEN o_totalprice / rate END), 2) AS DOUBLE)
             AS ht_estimate,
           CAST(round(abs(sum(CASE WHEN u < rate * 1000000
                                   THEN o_totalprice / rate END)
                          - sum(o_totalprice))
                      / CAST(sum(o_totalprice) AS DOUBLE), 6) AS DOUBLE)
             AS rel_err
    FROM strat GROUP BY o_orderpriority
    """,
)
def horvitz_thompson_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson total estimation under deterministic
    per-stratum Bernoulli sampling: each order priority samples at its
    own rate (0.04 x the priority digit), inclusion decided by the
    shared ``hash64`` draw (replayable, engine-mirrored), and the
    estimator up-weights each sampled order by 1/rate.  Reports the
    estimate against ground truth per stratum — the 'can I answer this
    from the 5% sample' audit run before pointing a dashboard at
    samples instead of the 100 TB fact table.

    Scale shape: rate, draw and inclusion are pure map-side
    expressions; ONE partial+final aggregate computes sample and truth
    together (conditional sums), so the audit costs exactly one scan.
    In production the sample is materialized once and truth drops out;
    the estimator column is unchanged."""
    from cascading_hbase_spark.functions.hashing import hash64

    o = load_table(spark, sf_dir, "orders")
    rate = 0.04 * F.substring("o_orderpriority", 1, 1).cast("int")
    u = hash64(
        F.concat(F.lit("ht#"), F.col("o_orderkey").cast("string"))
    ) % 1000000
    strat = o.select(
        "o_orderpriority",
        "o_totalprice",
        rate.alias("rate"),
        u.alias("u"),
    )
    sampled = F.col("u") < F.col("rate") * 1000000
    ht = F.sum(F.when(sampled, F.col("o_totalprice") / F.col("rate")))
    truth = F.sum("o_totalprice")
    return strat.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(F.when(sampled, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        # round+DOUBLE, not DECIMAL, at the OUTPUT (house rule: decimal
        # only internally) — a decimal output renders '….50' from Spark
        # but '…0.5' through DuckDB's decimal->float64 df() conversion,
        # failing the strict value compare on any total ending in a
        # zero cent digit (observed at sf0.1).
        F.round(truth, 2).cast("double").alias("true_total"),
        F.round(ht, 2).alias("ht_estimate"),
        F.round(F.abs(ht - truth) / truth.cast("double"), 6).alias("rel_err"),
    )
