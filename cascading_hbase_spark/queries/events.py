"""§2.10 time-windowed event processing, batch form (the reference is
pure batch MR; its buffered upsert sink is the moral ancestor of a
streaming upsert — SURVEY.md §2.10).  The same transformations are
re-exported for Structured Streaming in
``cascading_hbase_spark.streaming``; here they run as batch DataFrame
queries so the DuckDB oracle can check them.

Oracle alignment: Spark ``F.window(ts, W, S)`` buckets are epoch-aligned
exactly like DuckDB ``time_bucket(INTERVAL, ts)``."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cascading_hbase_spark.catalog import load_table
from cascading_hbase_spark.queries import query

DEC = "decimal(18,2)"


@query(
    "tumbling_window_agg",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM ev
    GROUP BY 1, 2
    """,
    bench=True,
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window aggregation: F.window(ts, '1 hour')."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "value_sum")
    )


@query(
    "sliding_window_agg",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT time_bucket(INTERVAL '30 minutes', ts) - g * INTERVAL '30 minutes' AS w_start,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM ev CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS g)
    GROUP BY 1
    """,
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide): every event lands in
    exactly 2 windows.  The oracle replays Spark's window assignment
    with an explicit offset cross join."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("w_start"), "n", "value_sum")
    )


@query(
    "session_window_agg",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
    ), islands AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_event,
           CAST(count(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, sid
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 10-minute gap per user.  Spark side uses
    the native ``F.session_window`` (merging session state); the oracle
    reconstructs sessions as gaps-and-islands SQL — independent
    formulations of the same semantics."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("last_event"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_event",
            "n_events",
        )
    )


@query(
    "event_dedup_earliest",
    oracle="""
    SELECT user_id, event_type, event_id, ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    ) WHERE rn = 1
    """,
)
def event_dedup_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style dedup: keep the earliest event per
    (user, event_type) — ``dropDuplicates`` within watermark in the
    streaming form, deterministic window form in batch."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


@query(
    "asof_join_last_signup",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT max(s.ts) FROM ev s
            WHERE s.user_id = e.user_id AND s.event_type = 'signup'
              AND (s.ts < e.ts OR (s.ts = e.ts AND s.event_id <= e.event_id)))
             AS signup_ts
    FROM ev e WHERE e.event_type = 'purchase'
    """,
)
def asof_join_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent signup at-or-before
    it for the same user.  Implemented as a single pass with
    last(ignoreNulls) over an ordered window — one shuffle on user_id,
    no correlated-subquery N^2 (the oracle uses the subquery form as an
    independent check)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_ts = F.last(
        F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("signup_ts", signup_ts)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "signup_ts")
    )


@query(
    "asof_join_generic",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT max(s.ts) FROM ev s
            WHERE s.user_id = e.user_id AND s.event_type = 'signup'
              AND s.ts <= e.ts) AS signup_ts
    FROM ev e WHERE e.event_type = 'purchase'
    """,
)
def asof_join_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table as-of join via the reusable ``functions.temporal.
    asof_join`` operator (union + carry-forward window, one shuffle);
    the oracle is the independent correlated-subquery formulation."""
    from cascading_hbase_spark.functions.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("ts").alias("signup_ts")
    )
    return asof_join(purchases, signups, on="user_id", ts="ts",
                     value_cols=["signup_ts"])


@query(
    "funnel_signup_to_purchase",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    s AS (SELECT user_id, min(ts) AS signup_ts FROM ev
          WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT e.user_id, min(e.ts) AS first_purchase_ts
          FROM ev e JOIN s ON s.user_id = e.user_id AND e.ts >= s.signup_ts
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT s.user_id, s.signup_ts, p.first_purchase_ts,
           p.first_purchase_ts IS NOT NULL AS converted
    FROM s LEFT JOIN p ON p.user_id = s.user_id
    """,
)
def funnel_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: per user, first signup and first purchase at or
    after it.  One pass: both step timestamps come from a single
    conditional aggregation over a min-signup window — no self-join of
    the event log (the oracle's join form is the independent check)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    signup_ts = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    with_signup = e.withColumn("signup_ts", signup_ts).filter(
        F.col("signup_ts").isNotNull()
    )
    return (
        with_signup.groupBy("user_id")
        .agg(
            F.first("signup_ts").alias("signup_ts"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("signup_ts")),
                    F.col("ts"),
                )
            ).alias("first_purchase_ts"),
        )
        .withColumn("converted", F.col("first_purchase_ts").isNotNull())
    )


@query(
    "event_rate_per_user_hour",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS w_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM ev GROUP BY 1, 2
    """,
)
def event_rate_per_user_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed tumbling rollup — the hypertable-rollup shape."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .select("user_id", F.col("w.start").alias("w_start"), "n_events", "n_types")
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
    cohort AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id),
    activity AS (SELECT DISTINCT user_id, d FROM ev)
    SELECT cohort_day,
           CAST(datediff('day', cohort_day, d) AS INTEGER) AS day_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM activity a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    on each later active day offset — the standard growth-analytics
    rollup.  Two hash aggregates plus one join; the cohort side is one
    row per user, broadcastable at any event volume."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohort = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = e.distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "event_gap_stats",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    gaps AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS gap_us
      FROM ev
    )
    SELECT event_type,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           round(quantile_cont(gap_us, 0.5), 6) AS p50_gap_us
    FROM gaps WHERE gap_us IS NOT NULL GROUP BY event_type
    """,
)
def event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile: per event type, the distribution of
    gaps between a user's consecutive events of that type (lag over the
    (user, type) ordering, then an exact-integer microsecond aggregate).
    Window + agg compose in one shuffle on (user_id, event_type)-then-
    event_type; gaps are exact bigint microseconds so every stat but the
    interpolated median is integer-exact."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        F.round(F.expr("percentile(gap_us, 0.5)"), 6).alias("p50_gap_us"),
    )


@query(
    "gap_fill_forward",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hr, event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vs
      FROM ev GROUP BY 1, 2
    ),
    bounds AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1
               FROM hourly GROUP BY 1),
    spine AS (
      SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
      FROM bounds
    ),
    j AS (
      SELECT s.event_type, s.hr, COALESCE(h.n, 0) AS n, h.vs
      FROM spine s LEFT JOIN hourly h
        ON h.event_type = s.event_type AND h.hr = s.hr
    )
    SELECT event_type, hr, CAST(n AS BIGINT) AS n,
           round(last_value(vs IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS filled_sum
    FROM j
    """,
)
def gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: generate the full hourly spine per event
    type (`F.sequence` between observed bounds), left-join the actual
    hourly rollup, and forward-fill missing hours with the last
    observed value (`last(..., ignorenulls)`) — the resample +
    carry-forward op every monitoring/feature pipeline needs.

    Scale shape: the spine explodes from the tiny bounds relation (one
    row per group), never from raw events; the fill is one window pass
    partitioned by group.  Raw events are touched exactly once by the
    hourly rollup."""
    e = load_table(spark, sf_dir, "events")
    # The rollup feeds BOTH the spine bounds and the fill join; persist
    # it so raw events are scanned once (the rollup itself is tiny:
    # hours x event types).
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("hr"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("vs"),
        )
        .persist()
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hr"),
        )
    )
    j = spine.join(hourly, ["event_type", "hr"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        "hr",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.round(F.last("vs", ignorenulls=True).over(w), 6).alias("filled_sum"),
    )


@query(
    "asof_join_tolerance",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    m AS (
      SELECT e.event_id, e.user_id, e.ts,
             (SELECT max(s.ts) FROM ev s
              WHERE s.user_id = e.user_id AND s.event_type = 'signup'
                AND s.ts <= e.ts) AS raw_signup_ts
      FROM ev e WHERE e.event_type = 'purchase'
    )
    SELECT event_id, user_id, ts,
           CASE WHEN ts - raw_signup_ts <= INTERVAL 3 DAY
                THEN raw_signup_ts END AS signup_ts
    FROM m
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-age tolerance (the pandas
    ``merge_asof(tolerance=...)`` contract): each purchase attaches its
    user's most recent signup only if it happened within 3 days —
    older matches null out.  The tolerance is a map-side filter on the
    carried timestamp; the plan is still one shuffle + one window
    pass."""
    from cascading_hbase_spark.functions.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("ts").alias("signup_ts")
    )
    return asof_join(
        purchases, signups, on="user_id", ts="ts",
        value_cols=["signup_ts"], tolerance="3 days",
    )


@query(
    "asof_join_forward",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT min(s.ts) FROM ev s
            WHERE s.user_id = e.user_id AND s.event_type = 'click'
              AND s.ts >= e.ts) AS next_click_ts
    FROM ev e WHERE e.event_type = 'purchase'
    """,
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase attaches the user's EARLIEST
    click at-or-after it (post-purchase behavior lookup).  Same
    union-and-carry plan as backward, running over the reversed
    ordering."""
    from cascading_hbase_spark.functions.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("next_click_ts")
    )
    return asof_join(
        purchases, clicks, on="user_id", ts="ts",
        value_cols=["next_click_ts"], direction="forward",
    )


@query(
    "sessionize_events",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    marked AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           CAST(SUM(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_index
    FROM marked
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session assignment (gaps-and-islands): every event gets
    its user's session ordinal, sessions splitting on >10-minute gaps.
    This is the event->sequence converter a behavioral-sequence training
    pipeline runs before packing; ``session_window_agg`` is its
    aggregated cousin.  Both window passes share one (user_id) shuffle —
    the lag and the running sum use the same partitioning, so Catalyst
    plans a single Exchange."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 600 * 1_000_000), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return e.select(
        "event_id", "user_id", "ts", new_session.alias("_ns")
    ).select(
        "event_id", "user_id", "ts",
        F.sum("_ns").over(run).cast("bigint").alias("session_index"),
    )


@query(
    "range_bin_join",
    bench=True,
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
             ts
      FROM marked
    ),
    intervals AS (
      SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e,
             CAST(count(*) AS BIGINT) AS n
      FROM sess GROUP BY user_id, sid
      ORDER BY e - s DESC, user_id, sid LIMIT 50
    )
    SELECT i.user_id AS interval_user, CAST(i.sid AS BIGINT) AS sid,
           CAST(count(*) AS BIGINT) AS n_contained
    FROM intervals i
    JOIN ev p ON p.ts >= i.s AND p.ts <= i.e
    GROUP BY i.user_id, i.sid
    """,
)
def range_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic range (interval-containment) join with NO equi key: how
    many events — from ANY user — fall inside each of the corpus's 50
    longest sessions.  The naive plan is |events| x |intervals| nested
    loops; ``functions.temporal.range_join`` turns it into an equi join
    on fixed-width time bins (intervals explode to covered bins
    map-side, exact containment filters bin-local candidates).  The
    oracle runs the naive containment join — same rows, different
    plan."""
    from cascading_hbase_spark.functions.temporal import range_join

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    new_session = F.when(
        (us - F.lag(us).over(w)).isNull()
        | ((us - F.lag(us).over(w)) > 600 * 1_000_000),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = e.select(
        "user_id", "ts", "event_id", new_session.alias("_ns")
    ).select("user_id", "ts", F.sum("_ns").over(run).alias("sid"))
    intervals = (
        sess.groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"), F.count("*").alias("n"))
        .orderBy(
            (F.unix_micros("e") - F.unix_micros("s")).desc(), "user_id", "sid"
        )
        .limit(50)
        .select(F.col("user_id").alias("interval_user"), "sid", "s", "e")
    )
    return (
        range_join(e.select("event_id", "ts"), intervals, "ts", "s", "e",
                   bin_seconds=3600)
        .groupBy("interval_user", "sid")
        .agg(F.count("*").cast("bigint").alias("n_contained"))
        .select(
            "interval_user", F.col("sid").cast("bigint").alias("sid"), "n_contained"
        )
    )


@query(
    "ema_user_value",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             list(value ORDER BY ts, event_id) AS vs,
             count(*) AS n
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(round(list_reduce(vs, (acc, x) -> 0.3*x + 0.7*acc), 6)
                AS DOUBLE) AS ema,
           CAST(n AS BIGINT) AS n_events
    FROM ordered
    """,
)
def ema_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average of event value (alpha=0.3) —
    the classic RECURSIVE per-key accumulator (ema_i = a*v_i +
    (1-a)*ema_{i-1}) that SQL windows cannot express directly,
    expressed declaratively: collect the ordered value array per key,
    then a sequential ``aggregate`` HOF fold.  The fold applies the
    exact same IEEE op sequence as the DuckDB ``list_reduce`` oracle,
    so results match to the bit before the round-6.

    Scale shape: one shuffle (the groupBy); state per key is the
    user's event list — fine for per-user event counts, and the
    streaming twin (``applyInPandasWithState``) is the unbounded-key
    escape hatch."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = e.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", F.col("value").alias("v")))
            ),
            lambda s: s["v"],
        ).alias("vs")
    )
    ema = F.aggregate(
        F.slice(F.col("vs"), F.lit(2), F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at("vs", 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return g.select(
        "user_id",
        F.round(ema, 6).alias("ema"),
        F.size("vs").cast("bigint").alias("n_events"),
    )


@query(
    "attribution_linear",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    pc AS (
      SELECT p.event_id AS p_id, p.value AS p_value,
             c.event_id AS c_id, c.user_id
      FROM ev p
      JOIN ev c ON c.user_id = p.user_id
                AND c.event_type = 'click'
                AND c.ts <= p.ts
                AND c.ts >= p.ts - INTERVAL '3 days'
      WHERE p.event_type = 'purchase'
    ),
    shares AS (
      SELECT c_id, user_id, p_id,
             CAST(round(p_value / count(*) OVER (PARTITION BY p_id), 6)
                  AS DECIMAL(18,6)) AS share
      FROM pc
    )
    SELECT c_id AS click_event, user_id,
           CAST(SUM(share) AS DOUBLE) AS attributed,
           CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases
    FROM shares GROUP BY c_id, user_id
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-weight) marketing attribution: every purchase's
    value is split evenly across the SAME USER's clicks in the 3 days
    leading up to it; per click, the attributed revenue it earned.

    Plan shape: the purchase-click pairing is an equi join on user_id
    with the interval as a join-side range predicate — keyed shuffle,
    never a time-bin explode (the per-user stream is small; contrast
    ``range_bin_join`` for the no-equi-key case).  The per-purchase
    click count is one window over the pair relation; shares convert
    to DECIMAL before the final sum so the oracle matches exactly."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    pc = p.join(c, "user_id").filter(
        (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 3 days"))
    )
    share = F.round(
        F.col("p_value") / F.count("*").over(Window.partitionBy("p_id")), 6
    ).cast("decimal(18,6)")
    return (
        pc.select("c_id", "user_id", "p_id", share.alias("share"))
        .groupBy("c_id", "user_id")
        .agg(
            F.sum("share").cast("double").alias("attributed"),
            F.count_distinct("p_id").cast("bigint").alias("n_purchases"),
        )
        .select(
            F.col("c_id").alias("click_event"), "user_id", "attributed", "n_purchases"
        )
    )


@query(
    "event_seasonality_profile",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM ev GROUP BY 1, 2
    """,
)
def event_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day seasonality matrix — the calendar
    extraction surface (ISO weekday alignment: Spark's ``weekday`` is
    0=Monday, DuckDB's ``isodow`` is 1=Monday; +1 aligns them).  One
    hash agg over at most 168 groups; map-side combine makes the
    shuffle negligible at any scale."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.weekday("ts") + 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("value_sum"),
        )
    )


@query(
    "monthly_yoy_growth",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) AS y, month(o_orderdate) AS mo,
             SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT CAST(y AS BIGINT) AS y, CAST(mo AS BIGINT) AS mo,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(round(
             CAST(rev AS DOUBLE)
             / CAST(lag(rev) OVER (PARTITION BY mo ORDER BY y) AS DOUBLE),
             6) AS DOUBLE) AS yoy_ratio
    FROM m
    """,
)
def monthly_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-same-month-last-year growth.  The naive plan windows
    over a single global month ordering (one partition — a scale
    killer); partitioning the lag by MONTH-OF-YEAR instead makes
    "12 rows back" become "1 row back inside my calendar-month
    partition": 12 parallel partitions, same answer."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("mo")
    ).agg(
        F.sum(F.round("o_totalprice", 2).cast(DEC)).alias("rev")
    )
    w = Window.partitionBy("mo").orderBy("y")
    return m.select(
        F.col("y").cast("bigint").alias("y"),
        F.col("mo").cast("bigint").alias("mo"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double")
            / F.lag("rev").over(w).cast("double"),
            6,
        ).alias("yoy_ratio"),
    )


@query(
    "twap_per_user",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    held AS (
      SELECT user_id, value,
             lead(epoch_us(ts)) OVER w - epoch_us(ts) AS w_us
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(round(
             CAST(SUM(CAST(round(value * w_us, 4) AS DECIMAL(38,4)))
                  AS DOUBLE)
             / CAST(SUM(w_us) AS DOUBLE), 6) AS DOUBLE) AS twap,
           CAST(SUM(w_us) AS BIGINT) AS span_us
    FROM held WHERE w_us IS NOT NULL
    GROUP BY user_id
    HAVING SUM(w_us) > 0
    """,
)
def twap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each event's value
    is held until the user's next event and weighted by that holding
    time — the right average for irregularly-sampled series, where the
    arithmetic mean over-weights bursts.  The last event per user has
    no holding interval and is excluded (same rule both engines); a
    user whose every event shares one timestamp has a zero total span
    and is excluded too (HAVING span > 0 — under ANSI mode the
    division would otherwise throw DIVIDE_BY_ZERO, and the oracle
    would produce inf/NaN).

    One shuffle on user_id (lead window + aggregate compose on the
    same key).  Weighted sums go value*microseconds -> round(4) ->
    DECIMAL(38,4): exact, order-independent addition — a double sum
    would expose parallel-reduction reassociation at 100 TB — with one
    float division at the end."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    held = e.select(
        "user_id", "value", (F.lead(us).over(w) - us).alias("w_us")
    ).filter(F.col("w_us").isNotNull())
    return (
        held.groupBy("user_id")
        .agg(
            F.sum(
                F.round(F.col("value") * F.col("w_us"), 4).cast("decimal(38,4)")
            ).alias("_wsum"),
            F.sum("w_us").cast("bigint").alias("span_us"),
        )
        .filter(F.col("span_us") > 0)
        .select(
            "user_id",
            F.round(
                F.col("_wsum").cast("double") / F.col("span_us").cast("double"), 6
            ).alias("twap"),
            "span_us",
        )
    )


@query(
    "sequence_funnel_3step",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    r AS (SELECT user_id, ts, event_type,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rn
          FROM ev),
    u AS (SELECT DISTINCT user_id FROM ev),
    s1 AS (SELECT user_id, min(rn) AS r1 FROM r
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT r.user_id, min(r.rn) AS r2 FROM r
           JOIN s1 ON s1.user_id = r.user_id AND r.rn > s1.r1
           WHERE r.event_type = 'click' GROUP BY r.user_id),
    s3 AS (SELECT r.user_id, min(r.rn) AS r3 FROM r
           JOIN s2 ON s2.user_id = r.user_id AND r.rn > s2.r2
           WHERE r.event_type = 'purchase' GROUP BY r.user_id)
    SELECT u.user_id,
           t1.ts AS signup_ts, t2.ts AS click_ts, t3.ts AS purchase_ts,
           CAST(CASE WHEN s3.r3 IS NOT NULL THEN 3
                     WHEN s2.r2 IS NOT NULL THEN 2
                     WHEN s1.r1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS stage
    FROM u
    LEFT JOIN s1 ON s1.user_id = u.user_id
    LEFT JOIN s2 ON s2.user_id = u.user_id
    LEFT JOIN s3 ON s3.user_id = u.user_id
    LEFT JOIN r t1 ON t1.user_id = u.user_id AND t1.rn = s1.r1
    LEFT JOIN r t2 ON t2.user_id = u.user_id AND t2.rn = s2.r2
    LEFT JOIN r t3 ON t3.user_id = u.user_id AND t3.rn = s3.r3
    """,
)
def sequence_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step sequence funnel (signup -> click -> purchase):
    per user, the first signup, the first click strictly AFTER that
    signup, and the first purchase strictly after that click — the
    complex-event-processing shape (MATCH_RECOGNIZE / sequential
    pattern matching) Spark SQL has no operator for.

    Implemented as a state-machine FOLD: one shuffle collects each
    user's events, array_sort orders them (ts, event_id — a total
    order), and an ``aggregate`` HOF threads the (t1, t2, t3) state
    struct through the sequence.  Each step reads the PRE-update state,
    so a stage only advances on an event strictly later in the sorted
    order — the oracle pins identical semantics with row_number
    chaining (min rn of each type with rn > previous stage's rn).
    Generalizes to k steps with per-user memory O(k), not O(events):
    the chained-aggregation alternative costs one shuffle per step."""
    e = load_table(spark, sf_dir, "events")
    evs = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    init = F.struct(
        F.lit(None).cast("timestamp").alias("t1"),
        F.lit(None).cast("timestamp").alias("t2"),
        F.lit(None).cast("timestamp").alias("t3"),
    )

    def step(acc, ev):
        t1 = F.when(
            acc["t1"].isNull() & (ev["event_type"] == "signup"), ev["ts"]
        ).otherwise(acc["t1"])
        t2 = F.when(
            acc["t1"].isNotNull()
            & acc["t2"].isNull()
            & (ev["event_type"] == "click"),
            ev["ts"],
        ).otherwise(acc["t2"])
        t3 = F.when(
            acc["t2"].isNotNull()
            & acc["t3"].isNull()
            & (ev["event_type"] == "purchase"),
            ev["ts"],
        ).otherwise(acc["t3"])
        return F.struct(t1.alias("t1"), t2.alias("t2"), t3.alias("t3"))

    st = F.aggregate(evs, init, step)
    stage = (
        F.when(F.col("_st.t3").isNotNull(), 3)
        .when(F.col("_st.t2").isNotNull(), 2)
        .when(F.col("_st.t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        e.groupBy("user_id")
        .agg(st.alias("_st"))
        .select(
            "user_id",
            F.col("_st.t1").alias("signup_ts"),
            F.col("_st.t2").alias("click_ts"),
            F.col("_st.t3").alias("purchase_ts"),
            stage.cast("bigint").alias("stage"),
        )
    )


@query(
    "decayed_popularity",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ref AS (SELECT max(ts) AS now FROM ev),
    w AS (
      SELECT event_type,
             pow(2.0, -CAST(date_diff('day', ts, ref.now) // 7 AS DOUBLE))
               AS wt
      FROM ev CROSS JOIN ref
    )
    SELECT event_type,
           CAST(SUM(CAST(wt AS DECIMAL(28,10))) AS DOUBLE) AS decayed_count,
           CAST(count(*) AS BIGINT) AS raw_count
    FROM w GROUP BY event_type
    """,
)
def decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed popularity: each event contributes 2^-(age_weeks)
    (one-week half-life) toward its type's score — the recency-weighted
    count a freshness-aware sampler or trending ranker wants.

    Cross-engine float discipline: the decay base is 2 and the exponent
    an INTEGER week count, so every weight is an exactly-representable
    binary fraction (pow(2,-k) has no rounding), weights sum as exact
    DECIMAL (order-independent), and the reference 'now' is max(ts)
    from the data itself (deterministic — wall-clock now would change
    every run).  Plan: 1-row max broadcast back, map-side weights, one
    partial+final agg."""
    e = load_table(spark, sf_dir, "events")
    ref = e.agg(F.max("ts").alias("_now"))
    wt = F.pow(
        F.lit(2.0),
        -(F.floor(F.datediff(F.col("_now"), F.col("ts")) / 7)).cast("double"),
    )
    return (
        e.join(F.broadcast(ref))
        .select("event_type", wt.alias("_wt"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("_wt").cast("decimal(28,10)"))
            .cast("double")
            .alias("decayed_count"),
            F.count("*").cast("bigint").alias("raw_count"),
        )
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    tr AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM ev
    ),
    c AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM tr WHERE nxt IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           CAST(round(CAST(n AS DOUBLE)
                      / CAST(SUM(n) OVER (PARTITION BY cur) AS DOUBLE), 6)
                AS DOUBLE) AS p
    FROM c
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    each (current, next) event-type pair, the transition count and the
    row-normalized probability P(next | current) — the behavioral
    fingerprint used for journey analysis and anomaly scoring (an
    unlikely transition chain is a bot/fraud signal).

    One shuffle: the lead window and the pair count share the user_id
    partitioning's output; the row normalization is a window over the
    #types x #types matrix — a constant-size relation, so the
    'unpartitioned window' here sorts 25 rows, not the event log.
    Probabilities divide exact integer counts (deterministic IEEE
    division, round 6)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = tr.groupBy("cur", "nxt").agg(F.count("*").cast("bigint").alias("n"))
    return c.select(
        "cur",
        "nxt",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("cur")).cast("double"),
            6,
        ).alias("p"),
    )


@query(
    "rolling_7d_active_users",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM ev
    ),
    contrib AS (
      SELECT user_id, d + CAST(i.i AS INTEGER) AS day
      FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i) i
    )
    SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM contrib GROUP BY day
    """,
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) per day: for each day, distinct
    users active in the trailing week — THE retention headline metric.

    Scale shape: distinct (user, day) first (the only corpus-scale
    shuffle, with map-side partial distinct), then each active day
    contributes to the 7 calendar days it covers via a CONSTANT-factor
    map-side explode — never a ts-range self-join of the event log and
    never a 7-day window over a global ordering.  The per-day distinct
    runs on the already-deduped (user, day) relation, 7x its size."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("i")).alias("day"))
    return contrib.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("wau")
    )


@query(
    "daily_count_anomaly",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM ev GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, day, n,
             avg(n) OVER w AS mu,
             stddev(n) OVER w AS sd,
             count(*) OVER w AS n_obs
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, n,
           CAST(round((n - mu) / sd, 6) AS DOUBLE) AS zscore,
           abs(round((n - mu) / sd, 6)) > 3.0 AS is_anomaly
    FROM r WHERE n_obs >= 3 AND sd > 0.0
    """,
)
def daily_count_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly score: each day's event count vs the mean
    and stddev of its own TRAILING window (previous 7 observations,
    current day excluded — the detector must not contaminate its
    baseline with the value it is judging).  Days with fewer than 3
    prior observations or a degenerate (zero-variance) baseline are
    not scored.

    Scale shape: the corpus-scale work is one (type, day) count
    aggregate; the trailing windows run over the per-day relation —
    #types x #days rows — partitioned by event_type.  The anomaly flag
    derives from the ROUNDED z on both engines, so a last-ulp stddev
    difference cannot flip it."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    r = d.select(
        "event_type",
        "day",
        "n",
        F.avg("n").over(w).alias("_mu"),
        F.stddev("n").over(w).alias("_sd"),
        F.count("*").over(w).alias("_n_obs"),
    ).filter((F.col("_n_obs") >= 3) & (F.col("_sd") > 0.0))
    z = F.round((F.col("n") - F.col("_mu")) / F.col("_sd"), 6)
    return r.select(
        "event_type", "day", "n",
        z.alias("zscore"),
        (F.abs(z) > 3.0).alias("is_anomaly"),
    )


@query(
    "conversion_latency_deciles",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    s AS (SELECT user_id, min(ts) AS t1 FROM ev
          WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT e.user_id,
                 min(epoch_us(e.ts) - epoch_us(s.t1)) AS lat_us
          FROM ev e JOIN s ON s.user_id = e.user_id AND e.ts >= s.t1
          WHERE e.event_type = 'purchase' GROUP BY e.user_id),
    q AS (
      SELECT quantile_cont(CAST(lat_us AS DOUBLE),
        [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs,
        count(*) AS n_converted
      FROM p
    )
    SELECT CAST(i.i AS BIGINT) AS decile,
           CAST(round(q.qs[i.i], 6) AS DOUBLE) AS latency_us,
           CAST(q.n_converted AS BIGINT) AS n_converted
    FROM q CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS i) i
    WHERE q.n_converted > 0
    """,
)
def conversion_latency_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per converting user, microseconds
    from first signup to first at-or-after purchase, summarized as the
    nine deciles — the survival-curve cut a growth team reads ("half
    convert within X hours").

    Per-user step times come from ONE conditional aggregation pass
    (the funnel pattern — min signup via window, min gated purchase in
    the same groupBy; no event-log self-join); the decile summary is a
    single percentile aggregate whose 1-row result explodes map-side
    into the 9 output rows.  Latencies are exact integer microseconds
    into the interpolated percentile."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    lat = e.withColumn("_t1", t1).filter(F.col("_t1").isNotNull())
    per_user = (
        lat.groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("_t1")),
                    F.unix_micros("ts") - F.unix_micros("_t1"),
                )
            ).alias("lat_us")
        )
        .filter(F.col("lat_us").isNotNull())
    )
    q = per_user.agg(
        F.expr(
            "percentile(CAST(lat_us AS DOUBLE), "
            "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"
        ).alias("qs"),
        F.count("*").alias("n_converted"),
    )
    return q.select(
        F.posexplode("qs").alias("_p", "_v"), F.col("n_converted")
    ).select(
        (F.col("_p") + 1).cast("bigint").alias("decile"),
        F.round("_v", 6).alias("latency_us"),
        F.col("n_converted").cast("bigint").alias("n_converted"),
    )


@query(
    "session_bounce_dwell",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    ),
    entry AS (
      SELECT *, first_value(event_type) OVER (
               PARTITION BY user_id, sid ORDER BY ts, event_id) AS entry0
      FROM sess
    ),
    per_sess AS (
      SELECT user_id, sid,
             min(entry0) AS entry_type,
             count(*) AS n_events,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS dwell_us
      FROM entry GROUP BY user_id, sid
    )
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                           AS DOUBLE) / count(*), 6) AS DOUBLE)
             AS bounce_rate,
           CAST(round(quantile_cont(CAST(dwell_us AS DOUBLE), 0.5), 6)
                AS DOUBLE) AS median_dwell_us
    FROM per_sess GROUP BY entry_type
    """,
)
def session_bounce_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate and dwell time by session ENTRY type: sessions are
    10-minute-gap islands per user; each session's entry event decides
    its bucket; bounce = single-event session — the landing-page
    quality readout, sliced by what users arrived to do.

    One shuffle on user_id serves the gap-marking lag, the
    gaps-and-islands session id and the per-session aggregate
    (min_by struct gives the deterministic entry event under ts ties);
    the per-entry-type rollup then runs on the session-count-sized
    relation.  Dwell is exact integer microseconds into the one
    interpolated median."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_s = F.when(
        gap_us.isNull() | (gap_us > 600 * 1_000_000), 1
    ).otherwise(0)
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(new_s).over(run).alias("sid"),
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.min_by("event_type", F.struct("ts", "event_id")).alias("entry_type"),
        F.count("*").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "dwell_us"
        ),
    )
    return per_sess.groupBy("entry_type").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("bounce_rate"),
        F.round(
            F.expr("percentile(CAST(dwell_us AS DOUBLE), 0.5D)"), 6
        ).alias("median_dwell_us"),
    )


@query(
    "longest_streak_per_user",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    r AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn_all,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_type
      FROM ev
    ),
    runs AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS run_len
      FROM r GROUP BY user_id, event_type, rn_all - rn_type
    ),
    best AS (
      SELECT user_id, event_type, run_len,
             row_number() OVER (PARTITION BY user_id
               ORDER BY run_len DESC, event_type) AS pick
      FROM runs
    )
    SELECT user_id, event_type AS streak_type, run_len AS streak_len
    FROM best WHERE pick = 1
    """,
)
def longest_streak_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive same-type run per user (the "streak": N
    clicks in a row with nothing between) — the gaps-and-islands shape
    keyed on SEQUENCE POSITION rather than time gaps: rn_overall -
    rn_within_type is constant exactly across a consecutive run, so
    runs fall out of one GROUP BY with no iteration and no
    self-join.  Repetitive streaks (error loops, bot click runs) are a
    behavioral-quality signal the transition matrix's first-order view
    cannot see.

    Both row_number windows and the run/winner aggregates share the
    user_id shuffle; ties (equal-length streaks) break
    deterministically by event_type."""
    e = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    r = e.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("_island"),
    )
    runs = r.groupBy("user_id", "event_type", "_island").agg(
        F.count("*").cast("bigint").alias("run_len")
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.col("run_len").desc(), "event_type"
    )
    return (
        runs.withColumn("_pick", F.row_number().over(pick))
        .filter(F.col("_pick") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("streak_type"),
            F.col("run_len").alias("streak_len"),
        )
    )


@query(
    "ab_conversion_ztest",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    users AS (
      SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
             max(CASE WHEN event_type = 'purchase'
                       AND epoch(ts) - epoch(first_ts) <= 86400
                      THEN 1 ELSE 0 END) AS converted
      FROM (SELECT user_id, ts, event_type,
                   min(ts) OVER (PARTITION BY user_id) AS first_ts FROM ev)
      GROUP BY user_id
    ),
    arms AS (
      SELECT variant, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(converted) AS DOUBLE) AS conv
      FROM users GROUP BY variant
    ),
    wide AS (
      SELECT
        max(CASE WHEN variant = 0 THEN n END) AS n_control,
        max(CASE WHEN variant = 0 THEN conv END) AS conv_control,
        max(CASE WHEN variant = 1 THEN n END) AS n_treat,
        max(CASE WHEN variant = 1 THEN conv END) AS conv_treat
      FROM arms
    )
    SELECT CAST(n_control AS BIGINT) AS n_control,
           CAST(conv_control AS BIGINT) AS conv_control,
           CAST(n_treat AS BIGINT) AS n_treat,
           CAST(conv_treat AS BIGINT) AS conv_treat,
           CAST(round(conv_treat / n_treat - conv_control / n_control, 6) AS DOUBLE)
             AS rate_lift,
           CAST(round(
             (conv_treat / n_treat - conv_control / n_control)
             / sqrt(nullif(
                 ((conv_control + conv_treat) / (n_control + n_treat))
                 * (1.0 - (conv_control + conv_treat) / (n_control + n_treat))
                 * (1.0 / n_control + 1.0 / n_treat), 0.0)), 6) AS DOUBLE)
             AS z_score,
           CAST(abs(
             (conv_treat / n_treat - conv_control / n_control)
             / sqrt(nullif(
                 ((conv_control + conv_treat) / (n_control + n_treat))
                 * (1.0 - (conv_control + conv_treat) / (n_control + n_treat))
                 * (1.0 / n_control + 1.0 / n_treat), 0.0))) >= 1.96 AS BOOLEAN)
             AS significant_95
    FROM wide
    """,
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: deterministic
    assignment (user_id parity as the variant), conversion = the user
    ever fired a ``purchase`` event, pooled-variance z-score and the
    95% two-sided significance verdict — the experiment-analysis
    primitive every event pipeline grows eventually.

    Conversion is 'purchased within 24 hours of the user's first
    event' — an onboarding-style metric with real variance (every user
    eventually purchases in this corpus, so lifetime conversion would
    be degenerate at 100%).

    Scale shape: the first-seen window and the per-user fold share ONE
    user-keyed shuffle, then a 2-row arm rollup folds to a single row;
    every statistic is arithmetic over that 1-row relation.  The
    pooled-variance term is nullif-guarded so a degenerate cohort
    (0% or 100% both arms) yields NULL rather than an ANSI error."""
    ev = load_table(spark, sf_dir, "events")
    first_ts = F.min("ts").over(Window.partitionBy("user_id"))
    users = (
        ev.select(
            "user_id", "event_type",
            (F.unix_timestamp("ts") - F.unix_timestamp(first_ts)).alias("since"),
        )
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("since") <= 86400),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    arms = users.groupBy("variant").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("converted").cast("double").alias("conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_control"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("conv_control"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_treat"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("conv_treat"),
    )
    p0 = F.col("conv_control") / F.col("n_control")
    p1 = F.col("conv_treat") / F.col("n_treat")
    pooled = (F.col("conv_control") + F.col("conv_treat")) / (
        F.col("n_control") + F.col("n_treat")
    )
    var_term = pooled * (1.0 - pooled) * (
        1.0 / F.col("n_control") + 1.0 / F.col("n_treat")
    )
    z = (p1 - p0) / F.sqrt(F.nullif(var_term, F.lit(0.0)))
    return wide.select(
        F.col("n_control").cast("bigint").alias("n_control"),
        F.col("conv_control").cast("bigint").alias("conv_control"),
        F.col("n_treat").cast("bigint").alias("n_treat"),
        F.col("conv_treat").cast("bigint").alias("conv_treat"),
        F.round(p1 - p0, 6).alias("rate_lift"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) >= 1.96).alias("significant_95"),
    )


@query(
    "cohort_ltv_triangle",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    cohort AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM ev GROUP BY user_id
    ),
    sizes AS (SELECT cohort_week, count(*) AS cohort_users
              FROM cohort GROUP BY cohort_week),
    rev AS (
      SELECT c.cohort_week,
             CAST((epoch(date_trunc('week', e.ts)) - epoch(c.cohort_week))
                  / 604800 AS INTEGER) AS age_weeks,
             sum(CAST(e.value AS DECIMAL(18,2))) AS revenue
      FROM ev e JOIN cohort c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT CAST(r.cohort_week AS TIMESTAMP) AS cohort_week, r.age_weeks,
           CAST(s.cohort_users AS BIGINT) AS cohort_users,
           CAST(r.revenue AS DOUBLE) AS revenue,
           CAST(sum(r.revenue) OVER (PARTITION BY r.cohort_week
                                     ORDER BY r.age_weeks) AS DOUBLE)
             AS cum_revenue,
           CAST(round(sum(r.revenue) OVER (PARTITION BY r.cohort_week
                                           ORDER BY r.age_weeks)
                      / s.cohort_users, 6) AS DOUBLE) AS cum_ltv_per_user
    FROM rev r JOIN sizes s ON s.cohort_week = r.cohort_week
    """,
)
def cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: users grouped by first-seen week,
    purchase revenue bucketed by weeks-since-cohort, cumulative LTV per
    user down each cohort row — the retention-economics view (each
    diagonal is a calendar week, each row a cohort aging rightward).

    Scale shape: first-seen is one user-keyed aggregate; revenue joins
    the (user -> cohort) relation on the user key it is already
    shuffled by; the triangle itself is #weeks^2 rows, so the cumsum
    window and size join are over a tiny relation.  Exact DECIMAL sums
    throughout, cast to DOUBLE only at the edge."""
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    sizes = cohort.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    age = (
        (
            F.unix_timestamp(F.date_trunc("week", F.col("ts")))
            - F.unix_timestamp(F.col("cohort_week"))
        )
        / 604800
    ).cast("int")
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cohort, "user_id")
        .groupBy("cohort_week", age.alias("age_weeks"))
        .agg(F.sum(F.col("value").cast(DEC)).alias("revenue"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            F.col("cohort_users").cast("bigint").alias("cohort_users"),
            F.col("revenue").cast("double").alias("revenue"),
            F.sum("revenue").over(w).cast("double").alias("cum_revenue"),
            F.round(
                (F.sum("revenue").over(w) / F.col("cohort_users")).cast(
                    "double"
                ),
                6,
            ).alias("cum_ltv_per_user"),
        )
    )


@query(
    "session_path_topk",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    marked AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_type, event_id,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS session_no
      FROM marked
    ),
    ranked AS (
      SELECT user_id, session_no, event_type,
             row_number() OVER (PARTITION BY user_id, session_no
                                ORDER BY ts, event_id) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, session_no,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 5
      GROUP BY user_id, session_no
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session opening paths: sessionize on 30-minute idle gaps,
    take each session's first five event types as an ordered '>' path,
    count path frequency — the clickstream shape behind funnel design
    and landing-flow audits (the n-gram generalization of the Markov
    transition matrix, which only sees pairs).

    Scale shape: sessionization and path extraction run inside ONE
    user-keyed shuffle (the gap lag, session cumsum, and rank windows
    all share the user partitioning); the path count is a hash agg on
    a <= 5-token string key; top-k is distributed TakeOrdered."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = ev.select(
        "user_id", "ts", "event_type", "event_id",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("new_session"),
    ).select(
        "user_id", "ts", "event_type", "event_id",
        F.sum("new_session").over(w).alias("session_no"),
    )
    ranked = sess.select(
        "user_id", "session_no", "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id"))
        .alias("rn"),
    ).filter(F.col("rn") <= 5)
    paths = (
        ranked.groupBy("user_id", "session_no")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(
        F.count("*").cast("bigint").alias("n_sessions")
    )
    return counts.orderBy(F.col("n_sessions").desc(), "path").limit(20)


@query(
    "rfm_quintile_features",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ref AS (SELECT max(ts) AS now_ts FROM ev),
    users AS (
      SELECT user_id,
             CAST(floor(epoch(ref.now_ts)) AS BIGINT)
               - CAST(floor(epoch(max(ts))) AS BIGINT) AS recency_s,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(coalesce(sum(CAST(value AS DECIMAL(18,2)))
                             FILTER (WHERE event_type = 'purchase'), 0)
                  * 100 AS BIGINT) AS monetary_cents
      FROM ev CROSS JOIN ref GROUP BY user_id, ref.now_ts
    ),
    q AS (
      SELECT user_id, recency_s, frequency, monetary_cents,
             ((row_number() OVER (ORDER BY recency_s * 10000000 + user_id) - 1)
               * 5) // (count(*) OVER ()) AS rq,
             ((row_number() OVER (ORDER BY frequency * 10000000 + user_id) - 1)
               * 5) // (count(*) OVER ()) AS fq,
             ((row_number() OVER (ORDER BY monetary_cents * 10000000 + user_id) - 1)
               * 5) // (count(*) OVER ()) AS mq
      FROM users
    )
    SELECT user_id, recency_s, frequency,
           CAST(monetary_cents / 100.0 AS DOUBLE) AS monetary,
           CAST(5 - rq AS INTEGER) AS r_score,
           CAST(fq + 1 AS INTEGER) AS f_score,
           CAST(mq + 1 AS INTEGER) AS m_score,
           CAST((5 - rq) * 100 + (fq + 1) * 10 + (mq + 1) AS INTEGER) AS rfm
    FROM q
    """,
)
def rfm_quintile_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user Recency (seconds since last
    event, against the corpus max timestamp), Frequency (event count)
    and Monetary (exact DECIMAL purchase revenue), each scored 1-5 by
    population quintile (5 = most recent / most frequent / highest
    spend), plus the composite RFM code — the feature table behind
    churn targeting and lifecycle campaigns.

    Scale shape: ONE user-keyed aggregate builds the metric table; the
    three quintile rankings run through ``global_row_index`` (bucket-
    decomposed enumeration — no single-partition ORDER BY window over
    the scaling user relation) on pure-integer composite keys
    (metric * 1e7 + user_id), so the total order — and therefore every
    score — is exact and identical cross-engine."""
    from cascading_hbase_spark.functions.enumerate import global_row_index

    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("now_ts"))
    users = (
        ev.join(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            (
                F.unix_timestamp(F.max("now_ts")) - F.unix_timestamp(F.max("ts"))
            ).cast("bigint").alias("recency_s"),
            F.count("*").cast("bigint").alias("frequency"),
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("event_type") == "purchase",
                            F.col("value").cast(DEC),
                        )
                    ),
                    F.lit(0).cast(DEC),
                )
                * 100
            ).cast("bigint").alias("monetary_cents"),
        )
    )
    n = users.agg(F.count("*").alias("_n"))

    def quint(metric: str, out: str) -> DataFrame:
        keyed = users.select(
            "user_id",
            (F.col(metric) * 10000000 + F.col("user_id")).alias("_ukey"),
        )
        idx = global_row_index(keyed, "_ukey", index_col="_ri")
        return idx.join(F.broadcast(n)).select(
            "user_id", F.expr("(_ri * 5) div _n").cast("int").alias(out)
        )

    scored = (
        users.join(quint("recency_s", "rq"), "user_id")
        .join(quint("frequency", "fq"), "user_id")
        .join(quint("monetary_cents", "mq"), "user_id")
    )
    return scored.select(
        "user_id",
        "recency_s",
        "frequency",
        (F.col("monetary_cents") / 100.0).alias("monetary"),
        (5 - F.col("rq")).cast("int").alias("r_score"),
        (F.col("fq") + 1).cast("int").alias("f_score"),
        (F.col("mq") + 1).cast("int").alias("m_score"),
        (
            (5 - F.col("rq")) * 100 + (F.col("fq") + 1) * 10 + F.col("mq") + 1
        ).cast("int").alias("rfm"),
    )


@query(
    "cusum_changepoint",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM ev GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, avg(x) AS mu, stddev_samp(x) AS sigma
      FROM daily GROUP BY event_type
    ),
    z AS (
      SELECT d.event_type, d.day,
             (d.x - s.mu) / nullif(s.sigma, 0.0) - 0.5 AS y
      FROM daily d JOIN stats s ON s.event_type = d.event_type
    ),
    p AS (
      SELECT event_type, day,
             sum(y) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
      FROM z
    ),
    s AS (
      SELECT event_type, day,
             pf - least(0.0, min(pf) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS cusum
      FROM p
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(round(max(cusum), 6) AS DOUBLE) AS max_cusum,
           CAST(min(CASE WHEN cusum > 4.0 THEN day END) AS TIMESTAMP)
             AS first_alarm_day
    FROM s GROUP BY event_type
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily event counts: per type,
    standardize the series, subtract the k=0.5 slack, and compute the
    one-sided CUSUM statistic; report its max and the first day it
    crosses the h=4 alarm threshold (the classic upward-shift
    detector, far more sensitive to small persistent drifts than the
    pointwise z-score of ``daily_count_anomaly``).

    Scale shape: the textbook recursion S_t = max(0, S_{t-1} + y_t)
    looks sequential, but equals P_t - min(0, min_{j<=t} P_j) for
    prefix sums P — so the whole detector is TWO running windows
    PARTITIONED BY event type (each partition is #days rows, bounded
    by the calendar, never by event volume); the raw stream collapses
    to (type, day) in one hash aggregate first."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sigma")
    )
    z = daily.join(stats, "event_type").select(
        "event_type", "day",
        ((F.col("x") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0)) - 0.5
         ).alias("y"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = z.select(
        "event_type", "day", F.sum("y").over(w).alias("pf")
    ).select(
        "event_type", "day",
        (F.col("pf") - F.least(F.lit(0.0), F.min("pf").over(w))).alias("cusum"),
    )
    return s.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.max("cusum"), 6).alias("max_cusum"),
        F.min(F.when(F.col("cusum") > 4.0, F.col("day"))).alias(
            "first_alarm_day"
        ),
    )


@query(
    "seasonal_naive_mase",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM ev GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, x,
             lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS x_season,
             lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x_prev
      FROM daily
    )
    SELECT event_type,
           CAST(count(x_season) AS BIGINT) AS n_forecasts,
           CAST(round(avg(abs(x - x_season)), 6) AS DOUBLE) AS mae_seasonal,
           CAST(round(avg(abs(x - x_prev)), 6) AS DOUBLE) AS mae_naive,
           CAST(round(avg(abs(x - x_season))
                      / nullif(avg(abs(x - x_prev)), 0.0), 6) AS DOUBLE) AS mase
    FROM lagged GROUP BY event_type
    """,
)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-skill baseline: per event type, score the seasonal-
    naive forecast (x[t-7], same weekday last week) against the plain
    naive forecast (x[t-1]) on daily counts, reporting both MAEs and
    their ratio (MASE, the scale-free forecast-accuracy standard —
    below 1 means weekly seasonality carries real signal).  The
    go/no-go gate before anyone ships a fancier model.

    Scale shape: one hash aggregate collapses events to (type, day);
    both lags share one window PARTITIONED BY type over calendar-
    bounded partitions; the scoring is a per-type aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "x",
        F.lag("x", 7).over(w).alias("x_season"),
        F.lag("x", 1).over(w).alias("x_prev"),
    )
    mae_s = F.avg(F.abs(F.col("x") - F.col("x_season")))
    mae_n = F.avg(F.abs(F.col("x") - F.col("x_prev")))
    return lagged.groupBy("event_type").agg(
        F.count("x_season").cast("bigint").alias("n_forecasts"),
        F.round(mae_s, 6).alias("mae_seasonal"),
        F.round(mae_n, 6).alias("mae_naive"),
        F.round(mae_s / F.nullif(mae_n, F.lit(0.0)), 6).alias("mase"),
    )


@query(
    "kaplan_meier_retention",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    users AS (
      SELECT user_id, CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS churn_day
      FROM ev GROUP BY user_id
    ),
    horizon AS (SELECT max(churn_day) AS end_day, count(*) AS n_users FROM users),
    deaths AS (
      SELECT u.churn_day AS day, count(*) AS d
      FROM users u CROSS JOIN horizon h
      WHERE u.churn_day < h.end_day
      GROUP BY u.churn_day
    ),
    risk AS (
      SELECT day, d,
             h.n_users
               - coalesce(sum(d) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM deaths CROSS JOIN horizon h
    ),
    km AS (
      SELECT day, d, n_risk,
             exp(sum(ln(1.0 - CAST(d AS DOUBLE) / n_risk))
                 OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS surv
      FROM risk
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_churned,
           CAST(round(surv, 6) AS DOUBLE) AS survival
    FROM km
    """,
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-survival curve: a user 'churns' on the day of
    their last event (censored if that day is the corpus horizon —
    they may still be active), and S(t) multiplies the per-day hazard
    complements (1 - churned/at-risk) — the estimator that handles
    censoring correctly, which a naive retention ratio does not.

    Scale shape: users collapse to (user, last-day) in one aggregate;
    everything after runs on the per-DAY relation (calendar-bounded),
    where the product becomes exp of a running sum of logs and the
    at-risk count a strictly-preceding running sum — plain windows
    over tiny partitions."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.max("ts")).alias("churn_day")
    )
    horizon = users.agg(
        F.max("churn_day").alias("end_day"), F.count("*").alias("n_users")
    )
    deaths = (
        users.join(F.broadcast(horizon))
        .filter(F.col("churn_day") < F.col("end_day"))
        .groupBy(F.col("churn_day").alias("day"))
        .agg(F.count("*").alias("d"))
    )
    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = (
        deaths.join(F.broadcast(horizon))
        .withColumn(
            "n_risk",
            F.col("n_users") - F.coalesce(F.sum("d").over(w_prev), F.lit(0)),
        )
        .withColumn(
            "surv",
            F.exp(
                F.sum(
                    F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
                ).over(w_run)
            ),
        )
    )
    return km.select(
        "day",
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_churned"),
        F.round("surv", 6).alias("survival"),
    )


@query(
    "contingency_association",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    joint AS (
      SELECT event_type, CAST(isodow(ts) AS INTEGER) AS dow,
             CAST(count(*) AS DOUBLE) AS n
      FROM ev GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS total,
                   count(DISTINCT event_type) AS r,
                   count(DISTINCT dow) AS c
            FROM joint),
    mt AS (SELECT event_type, sum(n) AS n_t FROM joint GROUP BY event_type),
    md AS (SELECT dow, sum(n) AS n_d FROM joint GROUP BY dow),
    terms AS (
      SELECT j.n, mt.n_t * md.n_d / tot.total AS expected, tot.total,
             tot.r, tot.c
      FROM joint j
      JOIN mt ON mt.event_type = j.event_type
      JOIN md ON md.dow = j.dow
      CROSS JOIN tot
    )
    SELECT CAST(round(sum(pow(n - expected, 2) / expected), 6) AS DOUBLE)
             AS chi2,
           CAST((min(r) - 1) * (min(c) - 1) AS BIGINT) AS dof,
           CAST(round(sqrt(sum(pow(n - expected, 2) / expected)
                           / (min(total) * least(min(r) - 1, min(c) - 1))), 6)
                AS DOUBLE) AS cramers_v,
           CAST(round(sum((n / total) * ln(n / expected)), 6) AS DOUBLE)
             AS mutual_info_nats
    FROM terms
    """,
)
def contingency_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association between event type and ISO weekday from one
    contingency table: chi-square statistic with degrees of freedom,
    Cramer's V (the 0-1 effect size chi-square alone can't give), and
    mutual information in nats — the categorical-dependence triple
    behind 'does behavior actually vary by weekday'.

    Scale shape: ONE hash aggregate builds the #types x 7 joint table;
    marginals, expecteds, and all three statistics are computed on
    that tiny relation (every join after the first aggregate is
    between fixed-cardinality inputs)."""
    ev = load_table(spark, sf_dir, "events")
    joint = ev.groupBy(
        "event_type", F.dayofweek(F.col("ts")).alias("_dow_raw")
    ).agg(F.count("*").cast("double").alias("n"))
    # dayofweek is 1=Sunday; ISO dow is 1=Monday..7=Sunday
    joint = joint.select(
        "event_type",
        F.when(F.col("_dow_raw") == 1, 7).otherwise(F.col("_dow_raw") - 1)
        .cast("int")
        .alias("dow"),
        "n",
    )
    tot = joint.agg(
        F.sum("n").alias("total"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("dow").alias("c"),
    )
    mt = joint.groupBy("event_type").agg(F.sum("n").alias("n_t"))
    md = joint.groupBy("dow").agg(F.sum("n").alias("n_d"))
    terms = (
        joint.join(mt, "event_type")
        .join(md, "dow")
        .join(F.broadcast(tot))
        .select(
            "n", "total", "r", "c",
            (F.col("n_t") * F.col("n_d") / F.col("total")).alias("expected"),
        )
    )
    chi2 = F.sum(F.pow(F.col("n") - F.col("expected"), 2) / F.col("expected"))
    return terms.agg(
        F.round(chi2, 6).alias("chi2"),
        ((F.min("r") - 1) * (F.min("c") - 1)).cast("bigint").alias("dof"),
        F.round(
            F.sqrt(
                chi2 / (F.min("total") * F.least(F.min("r") - 1, F.min("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
        F.round(
            F.sum(
                (F.col("n") / F.col("total"))
                * F.log(F.col("n") / F.col("expected"))
            ),
            6,
        ).alias("mutual_info_nats"),
    )


@query(
    "acf_daily_counts",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM ev GROUP BY 1, 2
    ),
    lagged AS (
      SELECT d.event_type, lags.lag_k, d.x,
             lag(d.x, lags.lag_k) OVER (PARTITION BY d.event_type, lags.lag_k
                                        ORDER BY d.day) AS x_lag
      FROM daily d
      CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag_k) lags
    )
    SELECT event_type, CAST(lag_k AS INTEGER) AS lag_k,
           CAST(count(x_lag) AS BIGINT) AS n_pairs,
           CAST(round(corr(x, x_lag), 6) AS DOUBLE) AS acf
    FROM lagged WHERE x_lag IS NOT NULL
    GROUP BY event_type, lag_k
    """,
)
def acf_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily event counts, lags 1-7 per
    event type — the periodicity fingerprint (a weekly cycle shows as
    an ACF spike at lag 7) that picks the seasonal period
    ``seasonal_naive_mase`` then validates.

    Scale shape: events collapse to (type, day) in one hash aggregate;
    the 7 lags come from a constant-factor explode of that calendar-
    bounded relation, each lag windowed within its own (type, lag)
    partition; corr is a single-pass mergeable moment per group."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    lagged = daily.select(
        "event_type", "day", "x",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag_k"),
    )
    # lag(x, k) with per-row k isn't expressible; emulate with a self
    # join on the day offset.  The offset is applied on the LEFT side
    # (day - lag_k), so the join is a pure (type, day) EQUI join —
    # never a per-group nested-loop condition.
    shifted = daily.select(
        "event_type",
        F.col("day").alias("day_base"),
        F.col("x").alias("x_lag"),
    )
    pairs = lagged.withColumn(
        "day_base",
        F.date_sub(F.col("day").cast("date"), F.col("lag_k").cast("int")).cast(
            "timestamp"
        ),
    ).join(shifted, ["event_type", "day_base"]).select(
        "event_type", "lag_k", "x", "x_lag"
    )
    return pairs.groupBy("event_type", "lag_k").agg(
        F.count("x_lag").cast("bigint").alias("n_pairs"),
        F.round(F.corr("x", "x_lag"), 6).alias("acf"),
    )


@query(
    "entropy_rate_markov",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM ev
    ),
    trans AS (
      SELECT cur, nxt, CAST(count(*) AS DOUBLE) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    row_tot AS (SELECT cur, sum(n) AS n_cur FROM trans GROUP BY cur),
    grand AS (SELECT sum(n) AS total FROM trans)
    SELECT CAST(round(
             -sum((r.n_cur / g.total) * (t.n / r.n_cur) * ln(t.n / r.n_cur)),
             6) AS DOUBLE) AS entropy_rate_nats,
           CAST(round(
             -sum((r.n_cur / g.total) * (t.n / r.n_cur) * ln(t.n / r.n_cur))
             / ln((SELECT count(*) FROM row_tot)), 6) AS DOUBLE)
             AS normalized_rate,
           CAST(sum(t.n) AS BIGINT) AS n_transitions
    FROM trans t
    JOIN row_tot r ON r.cur = t.cur
    CROSS JOIN grand g
    """,
)
def entropy_rate_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain:
    H = -sum_i pi_i sum_j P_ij ln P_ij with the stationary weights
    taken from the empirical transition mass — how predictable the
    NEXT action is given the current one, in nats, plus the 0-1 form
    normalized by ln(#states).  The one-number sequel to
    ``event_transition_matrix`` (near 0 = scripted behavior, near 1 =
    uniform wandering).

    Scale shape: ordering is one per-user window (the same user-keyed
    shuffle the transition matrix uses); everything after the
    transition aggregate runs on the #types^2 relation."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(F.count("*").cast("double").alias("n"))
    row_tot = trans.groupBy("cur").agg(F.sum("n").alias("n_cur"))
    grand = trans.agg(F.sum("n").alias("total"))
    n_states = row_tot.agg(F.count("*").alias("k"))
    p = F.col("n") / F.col("n_cur")
    term = (F.col("n_cur") / F.col("total")) * p * F.log(p)
    return (
        trans.join(row_tot, "cur")
        .join(F.broadcast(grand))
        .join(F.broadcast(n_states))
        .agg(
            F.round(-F.sum(term), 6).alias("entropy_rate_nats"),
            F.round(-F.sum(term) / F.log(F.min("k").cast("double")), 6).alias(
                "normalized_rate"
            ),
            F.sum("n").cast("bigint").alias("n_transitions"),
        )
    )


@query(
    "interevent_burstiness",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    secs AS (
      SELECT user_id, ts, event_id, floor(epoch(ts)) AS es FROM ev
    ),
    gaps AS (
      SELECT user_id,
             es - lag(es) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS gap_s
      FROM secs
    )
    SELECT user_id,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           CAST(round(avg(gap_s), 6) AS DOUBLE) AS mean_gap_s,
           CAST(round(stddev_pop(gap_s), 6) AS DOUBLE) AS std_gap_s,
           CAST(round((stddev_pop(gap_s) - avg(gap_s))
                      / nullif(stddev_pop(gap_s) + avg(gap_s), 0.0), 6)
                AS DOUBLE) AS burstiness
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def interevent_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness index per user: B = (sigma - mu) /
    (sigma + mu) over inter-event gaps — -1 is a metronome, 0 is a
    Poisson process, +1 is extreme bursts-and-silences.  Separates
    bot-like regular traffic from human bursty traffic in a way the
    mean rate cannot; the distilled sequel to the raw gap-stats pair.

    Scale shape: the gap lag and the per-user moments share ONE
    user-keyed shuffle (window then aggregate on the same key);
    stddev/avg are single-pass mergeable moments."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).cast("double").alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    mu, sd = F.avg("gap_s"), F.stddev_pop("gap_s")
    return gaps.groupBy("user_id").agg(
        F.count("gap_s").cast("bigint").alias("n_gaps"),
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sd, 6).alias("std_gap_s"),
        F.round((sd - mu) / F.nullif(sd + mu, F.lit(0.0)), 6).alias("burstiness"),
    )


@query(
    "ccf_clicks_purchases",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(count(*) FILTER (WHERE event_type = 'click') AS DOUBLE) AS clicks,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
               AS purchases
      FROM ev GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(-7, 7)) AS lag_k),
    pairs AS (
      SELECT l.lag_k, a.clicks, b.purchases
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.day = a.day + to_days(CAST(l.lag_k AS INTEGER))
    )
    SELECT CAST(lag_k AS INTEGER) AS lag_k,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(round(corr(clicks, purchases), 6) AS DOUBLE) AS ccf
    FROM pairs GROUP BY lag_k
    """,
)
def ccf_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily clicks and purchases
    at lags -7..+7: corr(clicks[t], purchases[t+k]) — positive-lag
    peaks mean clicks LEAD purchases by k days (the marketing
    lead-lag question), the two-series companion to
    ``acf_daily_counts``.

    Scale shape: one hash aggregate to the daily two-series relation;
    the 15 lags are a constant-factor explode joined back by a pure
    (day) EQUI key (offset applied on one side); corr is a mergeable
    moment per lag."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("clicks"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("purchases"),
    )
    lagged = daily.select(
        "day", "clicks", F.explode(F.sequence(F.lit(-7), F.lit(7))).alias("lag_k")
    ).withColumn(
        "day_tgt",
        F.date_add(F.col("day").cast("date"), F.col("lag_k").cast("int")).cast(
            "timestamp"
        ),
    )
    purch = daily.select(F.col("day").alias("day_tgt"), "purchases")
    pairs = lagged.join(purch, "day_tgt")
    return pairs.groupBy("lag_k").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.corr("clicks", "purchases"), 6).alias("ccf"),
    ).select(F.col("lag_k").cast("int").alias("lag_k"), "n_pairs", "ccf")


@query(
    "dow_detrended_anomaly",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(isodow(date_trunc('day', ts)) AS INTEGER) AS dow,
             CAST(count(*) AS DOUBLE) AS x
      FROM ev GROUP BY 1, 2
    ),
    dow_med AS (
      SELECT dow, quantile_cont(x, 0.5) AS med FROM daily GROUP BY dow
    ),
    resid AS (
      SELECT d.day, d.dow, d.x, d.x - m.med AS r
      FROM daily d JOIN dow_med m ON m.dow = d.dow
    ),
    mad AS (
      SELECT quantile_cont(abs(r), 0.5) AS mad FROM resid
    )
    SELECT r.day, r.dow,
           CAST(r.x AS BIGINT) AS n_events,
           CAST(round(r.r, 6) AS DOUBLE) AS residual,
           CAST(round(r.r / nullif(1.4826 * m.mad, 0.0), 6) AS DOUBLE)
             AS robust_z,
           CAST(abs(round(r.r / nullif(1.4826 * m.mad, 0.0), 6)) > 3.0
                AS BOOLEAN) AS is_anomaly
    FROM resid r CROSS JOIN mad m
    """,
)
def dow_detrended_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-detrended robust anomaly flags on daily volume: subtract
    each weekday's MEDIAN (so the weekly cycle doesn't masquerade as
    anomalies — the failure mode of the plain trailing z-score), then
    score residuals by MAD-normalized robust z and flag |z| > 3.  The
    anomaly flag compares the ROUNDED z, so a last-ulp MAD difference
    cannot flip it cross-engine.

    Scale shape: one hash aggregate to the calendar-bounded daily
    relation; weekday medians are a 7-row aggregate joined back; the
    global MAD is one percentile over the residuals, broadcast."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    daily = ev.groupBy(day.alias("day")).agg(
        F.count("*").cast("double").alias("x")
    ).withColumn(
        "dow",
        F.when(F.dayofweek("day") == 1, 7)
        .otherwise(F.dayofweek("day") - 1)
        .cast("int"),
    )
    dow_med = daily.groupBy("dow").agg(
        F.expr("percentile(x, 0.5D)").alias("med")
    )
    resid = daily.join(dow_med, "dow").withColumn("r", F.col("x") - F.col("med"))
    mad = resid.agg(F.expr("percentile(abs(r), 0.5D)").alias("mad"))
    z = F.round(
        F.col("r") / F.nullif(1.4826 * F.col("mad"), F.lit(0.0)), 6
    )
    return (
        resid.join(F.broadcast(mad))
        .select(
            "day", "dow",
            F.col("x").cast("bigint").alias("n_events"),
            F.round("r", 6).alias("residual"),
            z.alias("robust_z"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


@query(
    "welch_ttest_value",
    oracle="""
    WITH arms AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             avg(value) AS m,
             var_samp(value) AS v
      FROM events
      WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      GROUP BY event_type
    ),
    wide AS (
      SELECT
        max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
        max(CASE WHEN event_type = 'purchase' THEN m END) AS m1,
        max(CASE WHEN event_type = 'purchase' THEN v END) AS v1,
        max(CASE WHEN event_type = 'click' THEN n END) AS n0,
        max(CASE WHEN event_type = 'click' THEN m END) AS m0,
        max(CASE WHEN event_type = 'click' THEN v END) AS v0
      FROM arms
    )
    SELECT CAST(n1 AS BIGINT) AS n_purchase,
           CAST(n0 AS BIGINT) AS n_click,
           CAST(round(m1 - m0, 6) AS DOUBLE) AS mean_diff,
           CAST(round((m1 - m0) / sqrt(nullif(v1/n1 + v0/n0, 0.0)), 6)
                AS DOUBLE) AS t_stat,
           CAST(round(
             (v1/n1 + v0/n0) * (v1/n1 + v0/n0)
             / nullif((v1/n1)*(v1/n1)/(n1-1) + (v0/n0)*(v0/n0)/(n0-1), 0.0),
             6) AS DOUBLE) AS welch_df,
           CAST(abs((m1 - m0) / sqrt(nullif(v1/n1 + v0/n0, 0.0))) >= 1.96
                AS BOOLEAN) AS significant_95_normal
    FROM wide
    """,
)
def welch_ttest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing ``value`` between
    purchase and click events: per-arm mean/variance, the t statistic,
    and the Welch-Satterthwaite degrees of freedom — the
    continuous-metric companion to ``ab_conversion_ztest``'s
    two-proportion test.  Significance uses the normal approximation
    (df is in the thousands here), and the column name says so.

    Scale shape: one partial+final aggregate per arm (count/avg/
    var_samp all map-side combinable), a 2-row pivot to one row, then
    pure arithmetic on that single row.  Degenerate arms (zero pooled
    variance) yield NULL via nullif, not an ANSI error."""
    ev = load_table(spark, sf_dir, "events")
    arms = (
        ev.filter(
            F.col("event_type").isin("purchase", "click")
            & F.col("value").isNotNull()
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )

    def arm(col, et):
        return F.max(F.when(F.col("event_type") == et, F.col(col)))

    wide = arms.agg(
        arm("n", "purchase").alias("n1"), arm("m", "purchase").alias("m1"),
        arm("v", "purchase").alias("v1"), arm("n", "click").alias("n0"),
        arm("m", "click").alias("m0"), arm("v", "click").alias("v0"),
    )
    se1 = F.col("v1") / F.col("n1")
    se0 = F.col("v0") / F.col("n0")
    t = (F.col("m1") - F.col("m0")) / F.sqrt(F.nullif(se1 + se0, F.lit(0.0)))
    df = ((se1 + se0) * (se1 + se0)) / F.nullif(
        se1 * se1 / (F.col("n1") - 1) + se0 * se0 / (F.col("n0") - 1),
        F.lit(0.0),
    )
    return wide.select(
        F.col("n1").cast("bigint").alias("n_purchase"),
        F.col("n0").cast("bigint").alias("n_click"),
        F.round(F.col("m1") - F.col("m0"), 6).alias("mean_diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("welch_df"),
        (F.abs(t) >= 1.96).alias("significant_95_normal"),
    )


@query(
    "auc_rank_sum",
    oracle="""
    WITH lab AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events
      WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ),
    per AS (
      SELECT value, sum(pos) AS np, count(*) - sum(pos) AS nn
      FROM lab GROUP BY value
    ),
    run AS (
      SELECT np, nn, sum(nn) OVER (ORDER BY value) - nn AS below FROM per
    )
    SELECT CAST(sum(np) AS BIGINT) AS n_pos,
           CAST(sum(nn) AS BIGINT) AS n_neg,
           CAST(round(sum(np * (below + nn / 2.0))
                      / (CAST(sum(np) AS DOUBLE) * sum(nn)), 6) AS DOUBLE)
             AS auc
    FROM run
    """,
)
def auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of ``value`` as a score separating purchases (positive)
    from clicks (negative), via the Mann-Whitney rank-sum identity:
    AUC = P(score_pos > score_neg) + 0.5 * P(tie), computed as
    sum over distinct scores of np(v) * (negatives below v + half the
    tied negatives), normalized by n_pos * n_neg.  The
    threshold-free counterpart to ``decile_lift_table``.

    Scale shape: the naive formulation ranks ALL rows in one global
    window (single-partition trap).  Here rows collapse to the
    per-distinct-score (np, nn) relation first — one keyed shuffle —
    and the cumulative-negatives term is ``bucketed_running_sum`` over
    that relation (percentile-cut buckets, per-bucket parallel windows,
    broadcast prefix bases; counts are exact integers so the
    decomposition equals the single-window form bit-for-bit).  The
    final AUC is a 1-row aggregate."""
    from cascading_hbase_spark.functions.enumerate import bucketed_running_sum

    ev = load_table(spark, sf_dir, "events")
    lab = ev.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    ).select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    per = lab.groupBy("value").agg(
        F.sum("pos").alias("np"),
        (F.count("*") - F.sum("pos")).alias("nn"),
    )
    run = bucketed_running_sum(per, "value", "nn", sum_col="cum_nn")
    return run.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.round(
            F.sum(
                F.col("np")
                * (F.col("cum_nn") - F.col("nn") + F.col("nn") / F.lit(2.0))
            )
            / (F.sum("np").cast("double") * F.sum("nn")),
            6,
        ).alias("auc"),
    )


@query(
    "calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT 1.0 / (1.0 + exp(-(value - 50.0) / 25.0)) AS p,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events
      WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    )
    SELECT CAST(least(floor(p * 10), 9) AS INTEGER) AS bin,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(avg(p), 6) AS DOUBLE) AS mean_score,
           CAST(round(avg(y), 6) AS DOUBLE) AS frac_pos,
           CAST(round(abs(avg(p) - avg(y)), 6) AS DOUBLE) AS abs_gap
    FROM scored GROUP BY bin
    """,
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a probability-like score: a fixed
    logistic transform of ``value`` plays the model score, purchases
    are the positive class, and each of 10 equal-width score bins
    reports predicted-vs-observed positive rate plus the absolute
    calibration gap (the per-bin term of expected calibration error).
    The model-monitoring companion to ``auc_rank_sum`` — AUC measures
    ranking, this measures probability calibration.

    Scale shape: score and bin are pure map-side expressions; the only
    shuffle is the 10-group partial+final aggregate.  ``least(_, 9)``
    folds the closed top edge (p == 1.0) into the last bin on both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    scored = ev.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    ).select(
        (1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0))).alias("p"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    return (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.avg("p"), 6).alias("mean_score"),
            F.round(F.avg("y"), 6).alias("frac_pos"),
            F.round(F.abs(F.avg("p") - F.avg("y")), 6).alias("abs_gap"),
        )
    )


@query(
    "stl_lite_decompose",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
    daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(isodow(date_trunc('day', ts)) AS INTEGER) AS dow,
             CAST(count(*) AS DOUBLE) AS x
      FROM ev GROUP BY 1, 2
    ),
    tr AS (
      SELECT day, dow, x,
             avg(x) OVER (ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
      FROM daily
    ),
    seas AS (
      SELECT dow, avg(x - trend) AS seasonal FROM tr GROUP BY dow
    )
    SELECT t.day, t.dow,
           CAST(t.x AS BIGINT) AS n_events,
           CAST(round(t.trend, 6) AS DOUBLE) AS trend,
           CAST(round(s.seasonal, 6) AS DOUBLE) AS seasonal,
           CAST(round(t.x - t.trend - s.seasonal, 6) AS DOUBLE) AS residual
    FROM tr t JOIN seas s ON t.dow = s.dow
    """,
)
def stl_lite_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event count
    (STL-lite): trend = centered 7-day moving average, seasonal =
    day-of-week mean of the detrended series, residual = the rest.
    The decomposition view that ``dow_detrended_anomaly`` (robust
    outliers) and ``seasonal_naive_mase`` (forecast skill) both sit
    on top of — here the three components are emitted explicitly.
    Edge days average a partial window (both engines identically).

    Scale shape: the corpus folds to the #days-sized daily relation in
    one aggregate; every window and join after that runs over #days or
    7 rows — the 100 TB cost is the first fold, full stop."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    dow = (
        F.when(F.dayofweek(day) == 1, 7).otherwise(F.dayofweek(day) - 1)
    ).cast("int")
    daily = ev.groupBy(day.alias("day"), dow.alias("dow")).agg(
        F.count("*").cast("double").alias("x")
    )
    # windows below run over the #days-sized relation only
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.withColumn("trend", F.avg("x").over(w))
    seas = tr.groupBy("dow").agg(
        F.avg(F.col("x") - F.col("trend")).alias("seasonal")
    )
    return tr.join(seas, "dow").select(
        "day", "dow",
        F.col("x").cast("bigint").alias("n_events"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(
            F.col("x") - F.col("trend") - F.col("seasonal"), 6
        ).alias("residual"),
    )


@query(
    "scd2_intervals",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events
    ),
    chg AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS is_chg
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    isl AS (
      SELECT user_id, event_type, ts,
             sum(is_chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM chg
    ),
    runs AS (
      SELECT user_id, island, min(event_type) AS attr,
             min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id, attr AS event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY island)
             AS valid_to,
           n_events,
           CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY island)
                IS NULL AS BOOLEAN) AS is_current
    FROM runs
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: collapse each
    user's event stream into validity intervals — one row per
    consecutive run of the tracked attribute (event_type), with
    ``valid_from`` / ``valid_to`` (NULL = current) and the run length.
    The warehouse dimension-history primitive: the output is directly
    joinable AS OF any timestamp (``valid_from <= t < valid_to``),
    which is what ``asof_join_generic`` consumes on the other side.

    Scale shape: change detection (lag), island numbering (running
    sum) and the interval window all share ONE user-keyed shuffle;
    runs collapse via a keyed aggregate and the lead window runs over
    the runs relation (bounded by change count, not event count)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.withColumn(
        "is_chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    isl = chg.withColumn(
        "island",
        F.sum("is_chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    wr = Window.partitionBy("user_id").orderBy("island")
    valid_to = F.lead("valid_from").over(wr)
    return runs.select(
        "user_id", "event_type", "valid_from",
        valid_to.alias("valid_to"),
        "n_events",
        valid_to.isNull().alias("is_current"),
    )


@query(
    "out_of_order_audit",
    oracle="""
    WITH ev AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    seen AS (
      SELECT ts,
             max(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prior_max
      FROM ev
    ),
    lat AS (
      SELECT greatest(0, epoch(prior_max) - epoch(ts)) AS late_s
      FROM seen WHERE prior_max IS NOT NULL
    ),
    b AS (
      SELECT CASE WHEN late_s = 0 THEN 'on_time'
                  WHEN late_s < 60 THEN 'late_lt_1m'
                  WHEN late_s < 600 THEN 'late_lt_10m'
                  WHEN late_s < 3600 THEN 'late_lt_1h'
                  ELSE 'late_ge_1h' END AS bucket
      FROM lat
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6)
                AS DOUBLE) AS share
    FROM b GROUP BY bucket
    """,
)
def out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder audit: how late does each event arrive
    relative to the maximum event time already ingested (arrival order
    = event_id)?  The lateness histogram is THE input for choosing a
    streaming watermark (``withWatermark`` delays in
    ``streaming/ops.py``) — a watermark below the observed tail
    silently drops data, one far above it bloats state.

    Scale shape: the prior-max is ``bucketed_running_max`` in
    event_id order with ``strict=True`` (percentile-cut buckets,
    per-bucket parallel windows — never a single-partition global
    ORDER BY over the event stream); lateness and bucketing are
    map-side; the histogram is a 5-group aggregate and the share
    window runs over those 5 rows."""
    from cascading_hbase_spark.functions.enumerate import bucketed_running_max

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    seen = bucketed_running_max(
        ev, "event_id", "ts", max_col="prior_max", strict=True
    )
    late = (
        seen.filter(F.col("prior_max").isNotNull())
        .select(
            F.greatest(
                F.lit(0),
                F.unix_timestamp("prior_max") - F.unix_timestamp("ts"),
            ).alias("late_s")
        )
    )
    bucket = (
        F.when(F.col("late_s") == 0, "on_time")
        .when(F.col("late_s") < 60, "late_lt_1m")
        .when(F.col("late_s") < 600, "late_lt_10m")
        .when(F.col("late_s") < 3600, "late_lt_1h")
        .otherwise("late_ge_1h")
    )
    counts = late.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    # share over the 5-row histogram only
    return counts.select(
        "bucket", "n_events",
        F.round(
            F.col("n_events")
            / F.sum("n_events").over(Window.partitionBy()).cast("double"),
            6,
        ).alias("share"),
    )


@query(
    "dau_mau_stickiness",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    active AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM ev
    ),
    dau AS (
      SELECT d, CAST(count(*) AS BIGINT) AS dau FROM active GROUP BY d
    ),
    contrib AS (
      SELECT DISTINCT a.user_id, a.d + to_days(CAST(t.i AS INTEGER)) AS d
      FROM active a, unnest(generate_series(0, 29)) AS t(i)
    ),
    mau AS (
      SELECT d, CAST(count(*) AS BIGINT) AS mau FROM contrib GROUP BY d
    )
    SELECT dau.d AS day, dau.dau, mau.mau,
           CAST(round(dau.dau / CAST(mau.mau AS DOUBLE), 6) AS DOUBLE)
             AS stickiness
    FROM dau JOIN mau ON dau.d = mau.d
    """,
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: daily actives over trailing-30-day
    actives — the canonical engagement ratio.  Only days with actual
    activity are emitted (the DAU side of the join), and the opening
    29 days see a partial trailing window on both engines.

    Scale shape: the day-contribution explode from
    ``rolling_7d_active_users`` generalized to 30 days — a COUNT
    DISTINCT over a trailing window cannot be expressed as a running
    aggregate (distinct does not decompose), so each active (user,
    day) fans into the 30 future days it keeps alive, and both sides
    collapse via keyed distinct-counts.  Cost is 30x the per-(user,
    day) active relation — already deduplicated, far below event
    rows — shuffled on the day key."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    dau = active.groupBy("d").agg(
        F.count("*").cast("bigint").alias("dau")
    )
    contrib = (
        active.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"),
            "d",
        )
        .select(
            "user_id",
            (F.col("d") + F.make_interval(days=F.col("i"))).alias("d"),
        )
        .distinct()
    )
    mau = contrib.groupBy("d").agg(
        F.count("*").cast("bigint").alias("mau")
    )
    return (
        dau.join(mau, "d")
        .select(
            F.col("d").alias("day"),
            "dau",
            "mau",
            F.round(
                F.col("dau") / F.col("mau").cast("double"), 6
            ).alias("stickiness"),
        )
    )


@query(
    "peak_concurrency_sweepline",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ),
    gap AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, sid, min(ts) AS s_start,
             max(ts) + INTERVAL 60 SECOND AS s_end,
             min(event_id) AS s_id
      FROM (SELECT user_id, ts, event_id,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM gap)
      GROUP BY user_id, sid
    ),
    pts AS (
      SELECT s_start AS ts, 1 AS delta,
             2000000000000 + s_id AS tb FROM sess
      UNION ALL
      SELECT s_end, -1, s_id FROM sess
    ),
    run AS (
      SELECT ts, sum(delta) OVER (ORDER BY ts, tb
                                  ROWS UNBOUNDED PRECEDING) AS conc
      FROM pts
    )
    SELECT date_trunc('day', ts) AS day,
           CAST(max(conc) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY day
    """,
)
def peak_concurrency_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by sweep-line: sessionize
    (30-min gap, 60-s tail), emit +1 at each session start and -1 at
    its end, and the global running sum of deltas in time order IS the
    live-concurrency curve — per-day peak is its max over that day's
    points.  Capacity planning's load number, and the interval-overlap
    counting pattern (room scheduling, connection pools) the interval
    JOINS here don't cover.  Simultaneous endpoints resolve
    end-before-start (back-to-back sessions never overlap),
    deterministically via the tiebreak encoding.

    Scale shape: sessionization shares one user-keyed shuffle; the
    sweep is ``bucketed_running_sum`` over the 2x#sessions point
    relation in (ts, tb) order — percentile-cut buckets, parallel
    windows, exact integer deltas — never a single-partition global
    ORDER BY; the per-day max is a keyed aggregate."""
    from cascading_hbase_spark.functions.enumerate import bucketed_running_sum

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    sess = (
        gap.withColumn(
            "sid",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("s_start"),
            (F.max("ts") + F.expr("INTERVAL 60 SECONDS")).alias("s_end"),
            F.min("event_id").alias("s_id"),
        )
    )
    starts = sess.select(
        F.col("s_start").alias("ts"),
        F.lit(1).alias("delta"),
        (F.lit(2000000000000) + F.col("s_id")).alias("tb"),
    )
    ends = sess.select(
        F.col("s_end").alias("ts"),
        F.lit(-1).alias("delta"),
        F.col("s_id").alias("tb"),
    )
    pts = starts.unionByName(ends)
    run = bucketed_running_sum(
        pts, "ts", "delta", sum_col="conc", tiebreak_col="tb"
    )
    return run.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.max("conc").cast("bigint").alias("peak_concurrency")
    )


@query(
    "cuped_adjusted_lift",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                FROM events WHERE value IS NOT NULL),
    bounds AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us FROM ev
    ),
    users AS (
      SELECT user_id,
             CAST(user_id % 2 AS INTEGER) AS variant,
             CAST(sum(CASE WHEN epoch_us(ts) < b.mid_us THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x_pre,
             sum(CASE WHEN epoch_us(ts) >= b.mid_us THEN value ELSE 0 END)
               AS y_post
      FROM ev CROSS JOIN bounds b
      GROUP BY user_id
    ),
    stats AS (
      SELECT covar_pop(x_pre, y_post) / nullif(var_pop(x_pre), 0.0) AS theta,
             avg(x_pre) AS mx FROM users
    ),
    adj AS (
      SELECT u.variant, u.y_post,
             u.y_post - s.theta * (u.x_pre - s.mx) AS y_adj,
             s.theta
      FROM users u CROSS JOIN stats s
    )
    SELECT CAST(round(max(theta), 6) AS DOUBLE) AS theta,
           CAST(round(avg(CASE WHEN variant = 1 THEN y_post END)
                      - avg(CASE WHEN variant = 0 THEN y_post END), 6)
                AS DOUBLE) AS raw_lift,
           CAST(round(avg(CASE WHEN variant = 1 THEN y_adj END)
                      - avg(CASE WHEN variant = 0 THEN y_adj END), 6)
                AS DOUBLE) AS adjusted_lift,
           CAST(round(1.0 - var_pop(y_adj) / nullif(var_pop(y_post), 0.0), 6)
                AS DOUBLE) AS variance_reduction
    FROM adj
    """,
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13): regress the
    experiment metric (post-period value per user) on a pre-period
    covariate (pre-period event count), subtract the predicted
    component, and measure lift on the adjusted metric — same expected
    lift, strictly smaller variance, so experiments conclude sooner.
    Reports theta, raw vs adjusted lift, and the realized variance
    reduction; the modern companion to ``ab_conversion_ztest``.

    Scale shape: the period midpoint is a 1-row broadcast; per-user
    covariate/metric share ONE user-keyed aggregate; theta and the
    covariate mean are a 1-row moment aggregate broadcast back; the
    final lifts are one more pass of mergeable moments.  Nothing
    larger than the user relation ever shuffles."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select("user_id", "ts", "value")
    # exact integer-microsecond midpoint: identical boundary on both
    # engines (interval halving vs seconds truncation both drift)
    bounds = ev.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        ).cast("long").alias("mid_us")
    )
    us = F.unix_micros("ts")
    users = (
        ev.join(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(us < F.col("mid_us"), 1).otherwise(0))
            .cast("double")
            .alias("x_pre"),
            F.sum(
                F.when(us >= F.col("mid_us"), F.col("value")).otherwise(0)
            ).alias("y_post"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    stats = users.agg(
        (
            F.covar_pop("x_pre", "y_post")
            / F.nullif(F.var_pop("x_pre"), F.lit(0.0))
        ).alias("theta"),
        F.avg("x_pre").alias("mx"),
    )
    adj = users.join(F.broadcast(stats)).select(
        "variant",
        "y_post",
        (
            F.col("y_post") - F.col("theta") * (F.col("x_pre") - F.col("mx"))
        ).alias("y_adj"),
        "theta",
    )
    t = lambda c: F.avg(F.when(F.col("variant") == 1, F.col(c)))  # noqa: E731
    c = lambda c_: F.avg(F.when(F.col("variant") == 0, F.col(c_)))  # noqa: E731
    return adj.agg(
        F.round(F.max("theta"), 6).alias("theta"),
        F.round(t("y_post") - c("y_post"), 6).alias("raw_lift"),
        F.round(t("y_adj") - c("y_adj"), 6).alias("adjusted_lift"),
        F.round(
            1.0 - F.var_pop("y_adj") / F.nullif(F.var_pop("y_post"), F.lit(0.0)),
            6,
        ).alias("variance_reduction"),
    )
