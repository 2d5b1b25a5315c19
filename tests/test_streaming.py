"""Structured Streaming: every streaming transform must agree with its
batch formulation on the same data (availableNow processes the fixture
in one pass), and the keyed upsert sink must apply last-write-wins per
micro-batch."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cascading_hbase_spark import streaming as S
from cascading_hbase_spark.catalog import load_table
from cascading_hbase_spark.keyed.table import read_keyed
from cascading_hbase_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_tumbling_equals_batch(spark):
    got = S.run_available_now(S.tumbling_counts(S.events_stream(spark, SF)), "complete")
    want = QUERIES["tumbling_window_agg"](spark, SF)
    assert _rows(got, "w_start", "event_type", "n") == _rows(want, "w_start", "event_type", "n")


def test_stream_session_equals_batch(spark):
    got = S.run_available_now(S.session_counts(S.events_stream(spark, SF)), "complete")
    want = QUERIES["session_window_agg"](spark, SF)
    assert _rows(got, "user_id", "session_start", "n_events") == _rows(
        want, "user_id", "session_start", "n_events"
    )


def test_stream_dedup_one_row_per_key(spark):
    got = S.run_available_now(
        S.dedup_within_watermark(S.events_stream(spark, SF)), "append"
    )
    batch = load_table(spark, SF, "events")
    n_keys = batch.select("user_id", "event_type").distinct().count()
    assert got.count() == n_keys


def test_stateful_running_totals_equals_batch(spark):
    got = S.run_available_now(S.running_user_totals(S.events_stream(spark, SF)), "update")
    want = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("value_sum"))
    )
    g = {r.user_id: (r.n_events, r.value_sum) for r in got.collect()}
    w = {r.user_id: (r.n_events, r.value_sum) for r in want.collect()}
    assert set(g) == set(w)
    for uid in w:
        assert g[uid][0] == w[uid][0]
        assert g[uid][1] == pytest.approx(w[uid][1], rel=1e-9)


def test_exactly_once_ingest_emits_each_id_once(spark):
    """Union a stream with a redelivered copy of itself, dedup on the
    unique event id: every event must emit exactly once with its full
    original payload (deterministic content — both copies identical)."""
    got = S.run_available_now(
        S.exactly_once_ingest(
            S.events_stream(spark, SF), S.events_stream(spark, SF)
        ),
        "append",
    )
    batch = load_table(spark, SF, "events")
    cols = batch.columns
    assert _rows(got, *cols) == _rows(batch, *cols)


def test_running_totals_composite_key_equals_batch(spark):
    """Composite-key stateful totals: final state per (user_id,
    event_type) equals the batch DECIMAL sums exactly (integer-cents
    state — no float tolerance needed)."""
    raw = S.run_available_now(
        S.running_totals_by(S.events_stream(spark, SF), ("user_id", "event_type")),
        "update",
    )
    got = raw.groupBy("user_id", "event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("value_sum", "n_events").alias("value_sum"),
    )
    want = (
        load_table(spark, SF, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
    )
    assert _rows(got, "user_id", "event_type", "n_events", "value_sum") == _rows(
        want, "user_id", "event_type", "n_events", "value_sum"
    )


def test_stream_upsert_keyed_sink(spark, tmp_path):
    events = S.events_stream(spark, SF, max_files_per_trigger=1)
    q = S.stream_upsert_keyed(
        events, str(tmp_path / "kt"), key="user_id", checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    stored = read_keyed(spark, str(tmp_path / "kt"))
    n_users = load_table(spark, SF, "events").select("user_id").distinct().count()
    assert stored.count() == n_users


def test_continuous_aggregate_rollup(spark, tmp_path):
    """Continuous aggregate: stream -> tumbling agg (update mode) ->
    foreachBatch keyed upsert on the window key.  After the stream
    drains, the stored rollup must equal the batch rollup — the
    streaming materialized-view pattern built from existing parts."""
    rollup = S.tumbling_counts(S.events_stream(spark, SF)).withColumn(
        "agg_key",
        F.concat_ws("|", F.col("w_start").cast("string"), "event_type"),
    )
    path = str(tmp_path / "rollup_kt")

    def sink(batch_df, batch_id):
        from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

        write_keyed(batch_df, path, key="agg_key", mode=SinkMode.APPEND)

    q = (
        rollup.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    stored = {
        (r.agg_key): (r.n, r.value_sum)
        for r in read_keyed(spark, path).collect()
    }
    want = {
        (f"{r.w_start}|{r.event_type}"): (r.n, r.value_sum)
        for r in QUERIES["tumbling_window_agg"](spark, SF).collect()
    }
    assert stored == want


def test_stream_ingest_dedup_matches_sequential_batches(spark, tmp_path):
    """Continuous curation: the streamed corpus (per-micro-batch exact
    self-dedup + MinHash cross-dedup vs the standing corpus) must equal
    applying the same batch operators sequentially — stream ≡ batch for
    the ingest-dedup pipeline."""
    import os
    import time

    from cascading_hbase_spark.functions.dedup import minhash_neardup_cross

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    half1 = docs.filter("doc_id % 2 = 0")
    half2 = docs.filter("doc_id % 2 = 1")
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, half in enumerate([half1, half2]):
        out = str(tmp_path / f"stage{i}")
        half.coalesce(1).write.parquet(out)
        part = next(
            f for f in os.listdir(out) if f.endswith(".parquet")
        )
        os.rename(
            os.path.join(out, part), str(landing / f"batch{i}.parquet")
        )
        # distinct mtimes -> deterministic micro-batch order
        os.utime(str(landing / f"batch{i}.parquet"), (1000 + i, 1000 + i))

    corpus_path = str(tmp_path / "corpus")
    q = S.stream_ingest_dedup(
        S.documents_stream(spark, str(landing), max_files_per_trigger=1),
        corpus_path,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    # batch replay: half1 first, then half2 deduped against it
    def _exact(df):
        from pyspark.sql import Window as W

        rn = F.row_number().over(W.partitionBy("text").orderBy("doc_id"))
        return df.withColumn("_rn", rn).filter("_rn = 1").drop("_rn")

    c1 = _exact(half1)
    dups = (
        minhash_neardup_cross(_exact(half2), c1, "doc_id", "text")
        .select(F.col("batch_doc").alias("doc_id"))
        .distinct()
    )
    c2 = _exact(half2).join(dups, "doc_id", "left_anti")
    expected = {r["doc_id"] for r in c1.union(c2).select("doc_id").collect()}

    stored = {
        r["doc_id"]
        for r in read_keyed(spark, corpus_path).select("doc_id").collect()
    }
    assert stored == expected and len(stored) > 0


def test_stream_maintained_aggregate_view(spark, tmp_path):
    """Streaming ingest -> keyed base upsert -> incremental matview
    refresh per micro-batch.  After the stream drains, the view must
    equal a from-scratch aggregate of the final base snapshot — even
    though later events UPSERT earlier users (moving rows between
    event_type groups, which update-mode stream aggregation cannot
    retract)."""
    from cascading_hbase_spark.keyed.matview import read_aggregate_view

    base = str(tmp_path / "base_kt")
    view = str(tmp_path / "view_kt")
    events = S.events_stream(spark, SF, max_files_per_trigger=1)
    q = S.stream_maintained_view(
        events,
        base,
        view,
        key="user_id",
        group_col="event_type",
        sums={"total_value": "value"},
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    expected = {
        (r["event_type"], r["n_rows"], round(r["total_value"], 6))
        for r in read_keyed(spark, base)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.coalesce(F.col("value").cast("double"), F.lit(0.0))).alias(
                "total_value"
            ),
        )
        .collect()
    }
    got = {
        (r["event_type"], r["n_rows"], round(r["total_value"], 6))
        for r in read_aggregate_view(spark, view).collect()
    }
    assert got == expected


def test_stream_upsert_replay_idempotent(spark, tmp_path):
    """foreachBatch may re-deliver a micro-batch after a failure
    (at-least-once delivery); the keyed LWW merge must make the sink
    effectively idempotent — re-applying the same batch leaves the
    table byte-identical.  This is the documented recovery contract:
    replay converges, it never duplicates."""
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    path = str(tmp_path / "kt")
    # deterministic batch: one row per user (max_by event_id), fixed
    # predicate — re-evaluation on each write action yields identical
    # rows, so the only variable under test is the sink's merge
    batch = (
        load_table(spark, SF, "events")
        .filter(F.col("event_id") < 2000)
        .groupBy("user_id")
        .agg(
            F.max_by("event_type", "event_id").alias("event_type"),
            F.max_by("value", "event_id").alias("value"),
        )
    )
    write_keyed(batch, path, key="user_id", mode=SinkMode.APPEND)
    before = sorted(
        (r.user_id, r.event_type, r.value)
        for r in read_keyed(spark, path).collect()
    )
    # simulated redelivery of the SAME micro-batch
    write_keyed(batch, path, key="user_id", mode=SinkMode.APPEND)
    after = sorted(
        (r.user_id, r.event_type, r.value)
        for r in read_keyed(spark, path).collect()
    )
    assert after == before


def test_stream_upsert_into_zone_mapped_table(spark, tmp_path):
    """Streaming twin for zone maps (VERDICT r08 item 5b): a table
    created with zone_cols keeps its per-bucket zone maps maintained
    under STREAMING upserts (zone maintenance is a property of every
    commit, not of the batch entry point), and a zone-pruned read over
    the streamed result stays exact."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, _load_meta, read_keyed, write_keyed,
    )

    events = load_table(spark, SF, "events").select(
        F.col("event_id").alias("doc_id"),
        F.col("event_type").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.col("value").cast("long").alias("n_chars"),
    )
    kt = str(tmp_path / "kt")
    # zone_cols are creation-fixed: seed the table with a small slice,
    # then stream the rest in
    seed = events.limit(10)
    write_keyed(seed, kt, "doc_id", zone_cols=["n_chars"])
    landing = tmp_path / "landing"
    landing.mkdir()
    events.coalesce(2).write.mode("overwrite").parquet(str(landing / "drop"))
    docs = spark.readStream.schema(events.schema).parquet(str(landing / "drop"))
    q = S.stream_upsert_keyed(
        docs, kt, key="doc_id", checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    assert _load_meta(kt).get("zone_maps"), "zone maps not maintained"
    lo, hi = 10, 40
    pruned = read_keyed(spark, kt, zone_filter=("n_chars", lo, hi))
    want = {
        r.doc_id
        for r in read_keyed(spark, kt)
        .filter(F.col("n_chars").between(lo, hi))
        .collect()
    }
    assert {r.doc_id for r in pruned.collect()} == want


def test_stream_upsert_processing_time_trigger(spark, tmp_path):
    """Continuous-trigger deployment smoke (VERDICT r03 item 5): a real
    ``processingTime`` query stays alive across micro-batches, discovers
    files dropped into the landing dir AFTER start, and each discovered
    batch upserts with the same LWW semantics as the availableNow path.
    Three gated drops = three separate triggers, deterministic order."""
    import time as _time

    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    landing = tmp_path / "landing"
    landing.mkdir()
    kt, batch_kt = str(tmp_path / "kt"), str(tmp_path / "batch_kt")

    chunks = [
        [(1, "one", "en", "web", 3), (2, "two", "en", "web", 3)],
        [(2, "TWO", "en", "books", 3), (3, "three", "en", "web", 5)],
        [(1, "ONE", "de", "books", 3), (4, "four", "en", "web", 4)],
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def _drop(i):
        import os

        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(chunks[i], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), str(landing / f"chunk{i}.parquet"))

    def _wait_for_keys(want: set, timeout=90.0):
        t0 = _time.time()
        while _time.time() - t0 < timeout:
            try:
                got = {r.doc_id for r in read_keyed(spark, kt).collect()}
                if got >= want:
                    return
            except Exception:
                pass  # table not created by the first batch yet
            _time.sleep(0.5)
        raise AssertionError(f"timed out waiting for keys {want}")

    _drop(0)
    docs = S.documents_stream(spark, str(landing), max_files_per_trigger=1)
    # processing_time alone implies the continuous mode (available_now
    # is inferred False); passing both explicitly is the only error
    with pytest.raises(ValueError, match="not both"):
        S.stream_upsert_keyed(
            docs, kt, key="doc_id", checkpoint=str(tmp_path / "ckpt"),
            available_now=True, processing_time="500 milliseconds",
        )
    q = S.stream_upsert_keyed(
        docs, kt, key="doc_id", checkpoint=str(tmp_path / "ckpt"),
        processing_time="500 milliseconds",
    )
    try:
        _wait_for_keys({1, 2})
        _drop(1)               # discovered by a LATER trigger
        _wait_for_keys({1, 2, 3})
        _drop(2)
        _wait_for_keys({1, 2, 3, 4})
    finally:
        q.stop()

    # batch replay of the same chunk sequence is the oracle
    for i in range(3):
        write_keyed(
            spark.createDataFrame(chunks[i], schema), batch_kt,
            key="doc_id", mode=SinkMode.APPEND,
        )
    got = sorted(tuple(r) for r in read_keyed(spark, kt).collect())
    want = sorted(tuple(r) for r in read_keyed(spark, batch_kt).collect())
    assert got == want


def test_stream_interval_left_outer_contract(spark):
    """Left-outer stream-stream interval join: the emitted set must be
    the inner-join rows PLUS exactly one null-click row for each
    unmatched purchase whose event time the final watermark has passed
    (purchases inside the trailing watermark horizon legitimately never
    emit a null row under availableNow — the engine can't yet rule out
    a late click)."""
    clicks = S.events_stream(spark, SF).filter(F.col("event_type") == "click")
    purchases = S.events_stream(spark, SF).filter(
        F.col("event_type") == "purchase"
    )
    got = S.run_available_now(
        S.interval_join_clicks_to_purchases(
            clicks, purchases, how="leftOuter"
        ),
        "append",
    ).collect()

    ev = load_table(spark, SF, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    p = ev.filter(F.col("event_type") == "purchase")
    inner = (
        p.join(
            c,
            (p.user_id == F.col("cu"))
            & (F.col("cts") <= p.ts)
            & (F.col("cts") >= p.ts - F.expr("INTERVAL 1 hour")),
        )
        .select(F.col("event_id").alias("pid"), F.col("cid"))
    )
    inner_pairs = {(r.pid, r.cid) for r in inner.collect()}
    got_matched = {(r.purchase_id, r.click_id) for r in got if r.click_id is not None}
    assert got_matched == inner_pairs

    # null rows: exactly the unmatched purchases the watermark expired.
    # The global watermark is the MIN over both inputs' (max event time
    # - delay) — clicks and purchases each advance their own clock.
    import datetime as _dt

    max_c = c.agg(F.max("cts")).collect()[0][0]
    max_p = p.agg(F.max("ts")).collect()[0][0]
    horizon = min(max_c, max_p) - _dt.timedelta(hours=2)
    matched_pids = {pid for pid, _ in inner_pairs}
    expired_unmatched = {
        r.event_id
        for r in p.filter(F.col("ts") < F.lit(horizon)).collect()
        if r.event_id not in matched_pids
    }
    null_pids = [r.purchase_id for r in got if r.click_id is None]
    assert len(null_pids) == len(set(null_pids))  # one null row each
    assert set(null_pids) == expired_unmatched


def test_session_close_on_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout stateful path: a user's session row is emitted
    exactly once, AFTER the watermark passes (last event + gap) —
    driven by later files advancing event time.  File B's events push
    the watermark past user 1's timeout; file C's batch STARTS with
    that watermark and fires the timeout (watermarks advance at batch
    end, so expiry shows one batch later)."""
    import os

    landing = tmp_path / "landing"
    landing.mkdir()
    base = 1_700_000_000  # seconds
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )

    def _drop(i, rows):
        import datetime as dt

        data = [
            (eid, dt.datetime.utcfromtimestamp(base + off), uid, "click", val, None)
            for eid, off, uid, val in rows
        ]
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(data, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(os.path.join(stage, part), str(landing / f"f{i}.parquet"))
        os.utime(str(landing / f"f{i}.parquet"), (1000 + i, 1000 + i))

    _drop(0, [(1, 0, 1, 1.25), (2, 5, 1, 2.50)])      # user 1: closes later
    _drop(1, [(3, 600, 2, 9.0)])                      # advances event time 10min
    _drop(2, [(4, 660, 2, 1.0)])                      # batch that fires the timeout

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    got = S.run_available_now(
        S.session_close_on_timeout(stream, gap_seconds=30, watermark="1 minute"),
        "append",
    ).collect()
    rows = {r.user_id: (r.n_events, r.value_sum) for r in got}
    # user 1's session closed exactly once with exact totals; user 2's
    # state never expires before the stream drains
    assert rows == {1: (2, 3.75)}


def test_stream_maintained_view_min_max(spark, tmp_path):
    """Streaming-maintained view with MIN/MAX: upserts that move rows
    between groups (retracting the old group's extremum) stay exact —
    the hybrid per-group rescan runs inside each micro-batch refresh."""
    from cascading_hbase_spark.keyed.matview import read_aggregate_view

    base = str(tmp_path / "base_kt")
    view = str(tmp_path / "view_kt")
    events = S.events_stream(spark, SF, max_files_per_trigger=1)
    q = S.stream_maintained_view(
        events, base, view, key="user_id", group_col="event_type",
        sums={"total_value": "value"},
        mins={"min_value": "value"}, maxs={"max_value": "value"},
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    expected = {
        (r.event_type, r.n_rows, round(r.total_value, 6), r.min_value, r.max_value)
        for r in read_keyed(spark, base)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.coalesce(F.col("value").cast("double"), F.lit(0.0))).alias("total_value"),
            F.min(F.col("value").cast("double")).alias("min_value"),
            F.max(F.col("value").cast("double")).alias("max_value"),
        )
        .collect()
    }
    got = {
        (r.event_type, r.n_rows, round(r.total_value, 6), r.min_value, r.max_value)
        for r in read_aggregate_view(spark, view).collect()
    }
    assert got == expected


def test_stream_maintained_replica(spark, tmp_path):
    """Streaming ingest with a replica maintained per micro-batch:
    each batch upserts the primary then syncs the replica through the
    changefeed→MERGE path; after the stream drains the replica equals
    the primary."""
    from cascading_hbase_spark.keyed.replica import create_replica, sync_replica
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    primary = str(tmp_path / "primary_kt")
    replica = str(tmp_path / "replica_kt")

    def sink(batch_df, batch_id):
        s = batch_df.sparkSession
        write_keyed(batch_df, primary, key="user_id", mode=SinkMode.APPEND, retain=4)
        import os as _os

        from cascading_hbase_spark.keyed.table import META_FILE

        if _os.path.exists(_os.path.join(replica, META_FILE)):
            sync_replica(s, primary, replica)
        else:
            create_replica(s, primary, replica)

    q = (
        S.events_stream(spark, SF, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    want = sorted(tuple(r) for r in read_keyed(spark, primary).collect())
    got = sorted(tuple(r) for r in read_keyed(spark, replica).collect())
    assert got == want and len(got) > 0


def test_stream_upsert_with_expectations_quarantines(spark, tmp_path):
    """Streaming ingest through the DQ gate: per micro-batch, clean
    rows upsert into the keyed table and violating rows land (tagged)
    in the quarantine dir; the stored table never sees a reject."""
    from cascading_hbase_spark.keyed.expectations import Expectation

    events = S.events_stream(spark, SF, max_files_per_trigger=1)
    qdir = str(tmp_path / "quarantine")
    q = S.stream_upsert_keyed(
        events,
        str(tmp_path / "kt"),
        key="user_id",
        checkpoint=str(tmp_path / "ckpt"),
        expectations=[Expectation("value_nonneg", "value >= 1.0")],
        quarantine_path=qdir,
    )
    q.awaitTermination()
    stored = read_keyed(spark, str(tmp_path / "kt"))
    assert stored.filter(F.col("value") < 1.0).count() == 0
    rejects = spark.read.parquet(qdir)
    batch = load_table(spark, SF, "events")
    assert rejects.count() == batch.filter(F.col("value") < 1.0).count()
    assert rejects.filter(F.col("value") >= 1.0).count() == 0
    tags = rejects.select("_violated").limit(1).collect()[0][0]
    assert list(tags) == ["value_nonneg"]


def test_stream_upsert_fail_expectation_kills_stream(spark, tmp_path):
    from cascading_hbase_spark.keyed.expectations import Expectation
    from pyspark.errors.exceptions.captured import StreamingQueryException

    events = S.events_stream(spark, SF, max_files_per_trigger=1)
    q = S.stream_upsert_keyed(
        events,
        str(tmp_path / "kt"),
        key="user_id",
        checkpoint=str(tmp_path / "ckpt"),
        expectations=[Expectation("impossible", "value > 1e12", "fail")],
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()


def test_stream_upsert_explicit_false_requires_trigger(spark, tmp_path):
    """available_now=False with no processing_time would silently start
    a never-terminating default-trigger query; it must raise instead."""
    events = S.events_stream(spark, SF)
    with pytest.raises(ValueError, match="processing_time"):
        S.stream_upsert_keyed(
            events, str(tmp_path / "kt"), key="user_id",
            checkpoint=str(tmp_path / "ckpt"), available_now=False,
        )


def test_stream_maintained_cms(spark, tmp_path):
    """Streaming-maintained count-min sketch: after the documents
    stream drains (one file per trigger), the SUM-maintained view must
    equal the batch-computed sketch cell-for-cell — the mergeable-
    sketch accumulation contract under micro-batch ingest."""
    from cascading_hbase_spark.functions.hashing import hash64
    from cascading_hbase_spark.keyed.matview import read_aggregate_view

    base = str(tmp_path / "cms_base")
    view = str(tmp_path / "cms_view")
    docs = S.documents_stream(spark, SF, max_files_per_trigger=1)
    q = S.stream_maintained_cms(
        docs, base, view, checkpoint=str(tmp_path / "ckpt"),
        n_rows=3, width=64,
    )
    q.awaitTermination()

    tok = (
        load_table(spark, SF, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("t"))
    )
    cells = tok.select(
        F.posexplode(
            F.array(
                *[hash64(F.concat(F.lit(f"{i}#"), F.col("t"))) % 64
                  for i in range(3)]
            )
        ).alias("i", "bucket")
    )
    expected = {
        (r["cell"], r["c"])
        for r in cells.groupBy(
            (F.col("i") * 64 + F.col("bucket")).alias("cell")
        ).agg(F.count("*").alias("c")).collect()
    }
    got = {
        (r["cell"], r["c_total"])
        for r in read_aggregate_view(spark, view).collect()
    }
    assert got == expected


def test_stream_upserts_maintain_zone_maps(spark, tmp_path):
    """A table created with zone_cols keeps its per-bucket zone maps
    fresh under the streaming upsert sink: every micro-batch commit
    goes through the same commit (``_write_and_commit``) as batch
    writes, so a zone_filter read after the stream drains is exact."""
    from cascading_hbase_spark.keyed.table import write_keyed

    path = str(tmp_path / "ztk")
    seed = load_table(spark, SF, "events").select(
        "user_id", "value"
    ).limit(1)
    write_keyed(seed, path, "user_id", zone_cols=["value"])
    q = S.stream_upsert_keyed(
        S.events_stream(spark, SF, max_files_per_trigger=1).select(
            "user_id", "value"
        ),
        path, key="user_id", checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = read_keyed(spark, path, zone_filter=("value", 200.0, None))
    full = read_keyed(spark, path)
    want = full.filter(F.col("value") >= 200.0)
    assert got.count() == want.count() > 0
    g = {(r.user_id, r.value) for r in got.collect()}
    w = {(r.user_id, r.value) for r in want.collect()}
    assert g == w


# ---------------------------------------------------------------------------
# changefeed streaming source (r10): offsets = manifest commit versions
# ---------------------------------------------------------------------------

# r12: the skips are gone — the source's planning worker rebuilds the
# control plane from the `plane` reader option (ControlPlane.plane_spec
# -> plane_from_spec), and the KT_PLANE=objectstore session uses the
# FILE-BACKED store, whose shared root IS visible across processes.
# The marker is kept as a no-op so the r11 test names read unchanged.
import os as _os  # noqa: F401  (kept: tests below use _os for paths)

changefeed_source_localfs_only = pytest.mark.skipif(
    False, reason="r12: streaming CDC runs on every plane"
)


def _reader_opts(**kw) -> dict:
    """Options for a directly-constructed KeyedChangefeedStreamReader —
    including the `plane` spec the planning worker would normally get
    from read_changefeed_stream (required when the session runs under
    KT_PLANE=objectstore, where manifests are virtual)."""
    import json as _j

    from cascading_hbase_spark.keyed.controlplane import get_control_plane

    spec = get_control_plane().plane_spec()
    if spec is not None:
        kw["plane"] = _j.dumps(spec)
    return kw


def _kv(spark, rows):
    return spark.createDataFrame(rows, "key long, val string")


@changefeed_source_localfs_only
def test_changefeed_stream_matches_batch_feed(spark, tmp_path):
    """Feed-vs-model, like the batch form: draining the stream over
    (v1, v3] must produce exactly ``changefeed_keyed(path, 1, 3)``
    minus the ``_before`` column."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, changefeed_keyed, delete_keyed, write_keyed,
    )

    path = str(tmp_path / "t")
    write_keyed(_kv(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]),
                path, "key", retain=10)                                 # v1
    write_keyed(_kv(spark, [(2, "B"), (5, "e")]), path, "key",
                mode=SinkMode.APPEND)                                   # v2
    delete_keyed(spark, path, _kv(spark, [(3, "x")]).select("key"))     # v3
    got = S.run_available_now(
        S.read_changefeed_stream(spark, path, from_version=1), "append"
    )
    assert _rows(got, "key", "val", "_change") == _rows(
        changefeed_keyed(spark, path, 1, 3), "key", "val", "_change"
    )


@changefeed_source_localfs_only
def test_changefeed_stream_checkpoint_resumes_exactly_once(spark, tmp_path):
    """A checkpointed subscriber drains (v1, v2], terminates, the table
    commits v3, and a restart with the same checkpoint emits ONLY the
    (v2, v3] delta — offset replay off immutable generations, no
    duplicates, no gaps."""
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    write_keyed(_kv(spark, [(1, "a"), (2, "b")]), path, "key", retain=10)  # v1
    write_keyed(_kv(spark, [(3, "c")]), path, "key", mode=SinkMode.APPEND)  # v2

    def drain():
        q = (
            S.read_changefeed_stream(spark, path, from_version=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = _rows(spark.read.parquet(out), "key", "val", "_change")
    assert first == [(3, "c", "insert")]
    write_keyed(_kv(spark, [(1, "A"), (4, "d")]), path, "key",
                mode=SinkMode.APPEND)                                   # v3
    drain()
    assert _rows(spark.read.parquet(out), "key", "val", "_change") == [
        (1, "A", "update"), (3, "c", "insert"), (4, "d", "insert"),
    ]


@changefeed_source_localfs_only
def test_changefeed_stream_plans_only_touched_buckets(spark, tmp_path):
    """Micro-batch planning cost is O(touched buckets): an append that
    lands in one bucket of a 4-bucket table plans exactly one diff
    partition."""
    import json

    from pyspark.sql.types import StructType

    from cascading_hbase_spark.keyed.table import (
        SinkMode, _load_meta, write_keyed,
    )
    from cascading_hbase_spark.streaming.changefeed_source import (
        KeyedChangefeedStreamReader,
    )

    path = str(tmp_path / "t")
    write_keyed(
        _kv(spark, [(k, f"v{k}") for k in range(40)]), path, "key",
        n_buckets=4, retain=10,
    )                                                                   # v1
    write_keyed(_kv(spark, [(1, "X")]), path, "key",
                mode=SinkMode.APPEND)                                   # v2
    meta = _load_meta(path)
    assert len(meta["boundaries"]) == 3  # really 4 buckets
    schema = StructType.fromJson(json.loads(meta["schema"]))
    reader = KeyedChangefeedStreamReader(
        schema, _reader_opts(path=path, from_version="1")
    )
    parts = reader.partitions({"version": 1}, {"version": 2})
    assert len(parts) == 1
    # read() streams Arrow RecordBatches (vectorized diff, never
    # per-row Python)
    rows = [
        (d["key"], d["val"], d["_change"])
        for b in reader.read(parts[0])
        for d in b.to_pylist()
    ]
    assert rows == [(1, "X", "update")]


@changefeed_source_localfs_only
def test_changefeed_stream_seq_token_reingest_is_silent(spark, tmp_path):
    """The version-token column registered at the end offset is
    excluded from change detection (the HBase cell-timestamp rule the
    batch feed enforces): replaying identical payload under a fresh
    seq produces an EMPTY stream batch, not an update storm."""
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 11)], "key long, val string, s long"
    )
    write_keyed(df, path, "key", seq_col="s", retain=10)                # v1
    write_keyed(
        df.withColumn("s", F.col("s") + 100), path, "key",
        mode=SinkMode.APPEND, seq_col="s",
    )                                                                   # v2
    got = S.run_available_now(
        S.read_changefeed_stream(spark, path, from_version=1), "append"
    )
    assert got.count() == 0


@changefeed_source_localfs_only
def test_changefeed_stream_refuses_ttl_and_collected_horizon(spark, tmp_path):
    """TTL tables are refused up front (wall-clock filtering cannot
    replay deterministically), and a start offset older than the
    readable horizon raises the standard rebuild-style signal instead
    of diffing partially-collected data."""
    import json
    import time

    from pyspark.sql.types import StructType

    from cascading_hbase_spark.keyed.table import (
        SinkMode, _load_meta, write_keyed,
    )
    from cascading_hbase_spark.streaming.changefeed_source import (
        KeyedChangefeedStreamReader,
    )

    ttl_path = str(tmp_path / "ttl")
    write_keyed(
        spark.createDataFrame(
            [(1, "a", time.time())], "key long, val string, ts double"
        ),
        ttl_path, "key", ttl={"col": "ts", "seconds": 3600.0},
    )
    with pytest.raises(ValueError, match="TTL"):
        S.read_changefeed_stream(spark, ttl_path)

    path = str(tmp_path / "t")
    write_keyed(_kv(spark, [(1, "a")]), path, "key", retain=2)          # v1
    for i in range(3):                                                  # v2..v4
        write_keyed(_kv(spark, [(1, f"v{i}")]), path, "key",
                    mode=SinkMode.APPEND)
    meta = _load_meta(path)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    reader = KeyedChangefeedStreamReader(
        schema, _reader_opts(path=path, from_version="1")
    )
    with pytest.raises(RuntimeError, match="readable horizon"):
        reader.partitions({"version": 1}, {"version": 4})


@changefeed_source_localfs_only
def test_changefeed_latest_offset_clamps_to_readable_history(spark, tmp_path):
    """A live writer flips the manifest BEFORE writing the history
    snapshot; if latestOffset advanced onto the not-yet-written
    snapshot, planning would kill the stream with a spurious 'pruned'
    error.  The offset must clamp to the newest version whose snapshot
    is readable and pick the lagging commit up next poll (r10
    review)."""
    import json
    import os

    from pyspark.sql.types import StructType

    from cascading_hbase_spark.keyed.table import (
        SinkMode, _load_meta, write_keyed,
    )
    from cascading_hbase_spark.streaming.changefeed_source import (
        KeyedChangefeedStreamReader,
    )

    path = str(tmp_path / "t")
    write_keyed(_kv(spark, [(1, "a")]), path, "key", retain=10)        # v1
    meta = _load_meta(path)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    reader = KeyedChangefeedStreamReader(
        schema, _reader_opts(path=path, from_version="1")
    )
    write_keyed(_kv(spark, [(2, "b")]), path, "key",
                mode=SinkMode.APPEND)                                   # v2
    assert reader.latestOffset() == {"version": 2}
    # simulate the flip-before-snapshot window: v2's history document
    # is not yet visible (through the control plane, so the scenario
    # runs identically on the objectstore plane's virtual documents)
    from cascading_hbase_spark.keyed.controlplane import get_control_plane

    cp = get_control_plane()
    h2 = os.path.join(path, "_kt_history", "v2.json")
    doc = cp.read_json(h2)
    cp.delete_quiet(h2)
    assert reader.latestOffset() == {"version": 1}
    cp.write_json_atomic(h2, doc)  # the snapshot lands
    assert reader.latestOffset() == {"version": 2}


@changefeed_source_localfs_only
def test_changefeed_stream_nested_nan_and_reserved_names(spark, tmp_path):
    """Three hazards of the vectorized diff, pinned (r10 review):
    list-typed payload columns (Arrow has no not_equal kernel for
    nested types — elementwise fallback), NaN payloads (NaN equals NaN,
    like the batch feed's eqNullSafe — no spurious updates), and user
    columns named like pandas-merge internals (_merge, <col>__old)."""
    import math

    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    path = str(tmp_path / "t")
    df = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "key long, vec array<double>, score double, "
        "_merge string, val string, val__old string",
    )
    nan = float("nan")
    write_keyed(
        df([
            (1, [1.0, 2.0], nan, "m1", "v1", "o1"),
            (2, [3.0], 2.0, "m2", "v2", "o2"),
            (3, None, 3.0, "m3", "v3", "o3"),
            (4, [nan, 5.0], 4.0, "m4", "v4", "o4"),
        ]),
        path, "key", retain=10,
    )                                                                   # v1
    write_keyed(
        df([
            (1, [1.0, 2.0], nan, "m1", "v1", "o1"),   # unchanged (incl. NaN)
            (2, [3.0, 4.0], 2.0, "m2", "v2", "o2"),   # vec changed
            (3, [9.9], 3.0, "m3", "v3", "o3"),        # None -> list
            (4, [nan, 5.0], 4.0, "m4", "v4", "o4"),   # NaN INSIDE the list
        ]),
        path, "key", mode=SinkMode.APPEND,
    )                                                                   # v2
    got = S.run_available_now(
        S.read_changefeed_stream(spark, path, from_version=1), "append"
    )
    rows = {(r.key, r._change) for r in got.collect()}
    assert rows == {(2, "update"), (3, "update")}  # key 1 is SILENT
    vecs = {r.key: r.vec for r in got.collect()}
    assert vecs == {2: [3.0, 4.0], 3: [9.9]}


@changefeed_source_localfs_only
def test_changefeed_stream_over_multi_commit_transaction(spark, tmp_path):
    """The round's two features composed: a subscriber over a table
    whose commits land through keyed/txn.py's multi-table transaction.
    The staged manifest+history publish at FLIP in the single-table
    order, so the stream sees the transaction's commit exactly once,
    with the same rows the batch feed reports — and sees NOTHING from
    an aborted transaction."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, changefeed_keyed, write_keyed,
    )
    from cascading_hbase_spark.keyed.txn import multi_commit

    path = str(tmp_path / "t")
    other = str(tmp_path / "o")
    write_keyed(_kv(spark, [(1, "a"), (2, "b")]), path, "key", retain=10)
    write_keyed(_kv(spark, [(1, "x")]), other, "key", retain=10)
    # an ABORTED transaction must be invisible to the stream
    with pytest.raises(RuntimeError, match="boom"):
        with multi_commit([path, other]):
            write_keyed(_kv(spark, [(9, "never")]), path, "key",
                        mode=SinkMode.APPEND)
            raise RuntimeError("boom")
    # a COMMITTED transaction appears exactly once
    with multi_commit([path, other]):
        write_keyed(_kv(spark, [(2, "B"), (3, "c")]), path, "key",
                    mode=SinkMode.APPEND)
        write_keyed(_kv(spark, [(2, "y")]), other, "key",
                    mode=SinkMode.APPEND)
    got = S.run_available_now(
        S.read_changefeed_stream(spark, path, from_version=1), "append"
    )
    assert _rows(got, "key", "val", "_change") == _rows(
        changefeed_keyed(spark, path, 1), "key", "val", "_change"
    )
    assert (9, "never", "insert") not in set(
        (r.key, r.val, r._change) for r in got.collect()
    )


# ---------------------------------------------------------------------------
# stream_replica (r11): changefeed stream -> foreachBatch MERGE follower
# ---------------------------------------------------------------------------


@changefeed_source_localfs_only
def test_stream_replica_converges_through_update_insert_delete(spark, tmp_path):
    """The follower equals the primary's snapshot after draining —
    across an update, an insert, and a delete committed AFTER the
    follower was seeded (the deltas arrive via the stream, not the
    seed)."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, delete_keyed, read_keyed, write_keyed,
    )

    primary = str(tmp_path / "p")
    follower = str(tmp_path / "f")
    ckpt = str(tmp_path / "ckpt")
    write_keyed(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]), primary,
                "key", retain=10)                                      # v1
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    assert _rows(read_keyed(spark, follower), "key", "val") == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    write_keyed(_kv(spark, [(2, "B"), (4, "d")]), primary, "key",
                mode=SinkMode.APPEND)                                  # v2
    delete_keyed(spark, primary,
                 spark.createDataFrame([(1,)], "key long"))            # v3
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    assert _rows(read_keyed(spark, follower), "key", "val") == _rows(
        read_keyed(spark, primary), "key", "val"
    ) == [(2, "B"), (3, "c"), (4, "d")]


@changefeed_source_localfs_only
def test_stream_replica_checkpoint_resume_no_double_apply(spark, tmp_path):
    """A third drain with the same checkpoint (nothing new committed)
    applies nothing: the follower's table version is unchanged — the
    checkpoint, not the follower's seed cursor, is the stream cursor,
    so a restart never re-merges already-applied batches."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, read_keyed, table_version, write_keyed,
    )

    primary = str(tmp_path / "p")
    follower = str(tmp_path / "f")
    ckpt = str(tmp_path / "ckpt")
    write_keyed(_kv(spark, [(1, "a")]), primary, "key", retain=10)
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    write_keyed(_kv(spark, [(2, "b")]), primary, "key", mode=SinkMode.APPEND)
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    v = table_version(follower)
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    assert table_version(follower) == v  # empty batch -> no commit
    assert _rows(read_keyed(spark, follower), "key", "val") == [
        (1, "a"), (2, "b"),
    ]


@changefeed_source_localfs_only
def test_stream_replica_refuses_foreign_target(spark, tmp_path):
    """An existing table that is not a replica of THIS primary must be
    refused, not silently merged into."""
    from cascading_hbase_spark.keyed.table import write_keyed

    p1 = str(tmp_path / "p1")
    p2 = str(tmp_path / "p2")
    f1 = str(tmp_path / "f1")
    plain = str(tmp_path / "plain")
    write_keyed(_kv(spark, [(1, "a")]), p1, "key", retain=10)
    write_keyed(_kv(spark, [(9, "z")]), p2, "key", retain=10)
    write_keyed(_kv(spark, [(5, "e")]), plain, "key", retain=10)
    with pytest.raises(ValueError, match="not a replica"):
        S.stream_replica(spark, p1, plain, str(tmp_path / "c1"))
    # a replica of p1 cannot be pointed at p2
    S.stream_replica(spark, p1, f1, str(tmp_path / "c2")).awaitTermination()
    with pytest.raises(ValueError, match="not a replica"):
        S.stream_replica(spark, p2, f1, str(tmp_path / "c3"))


@changefeed_source_localfs_only
def test_stream_replica_forwards_seq_registration(spark, tmp_path):
    """sync_replica's token-forwarding rule holds on the streaming
    path: the primary's seq_col registration reaches the follower, so
    a changefeed taken OVER the follower classifies on payload too."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, _load_meta, write_keyed,
    )

    primary = str(tmp_path / "p")
    follower = str(tmp_path / "f")
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame([(1, "a", 10)], "key long, val string, seq long")
    write_keyed(df, primary, "key", retain=10, seq_col="seq")
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    assert _load_meta(follower).get("seq_col") == "seq"  # carried by seed
    write_keyed(
        spark.createDataFrame([(2, "b", 11)], "key long, val string, seq long"),
        primary, "key", mode=SinkMode.APPEND, seq_col="seq",
    )
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    assert _load_meta(follower).get("seq_col") == "seq"  # held by stream


@changefeed_source_localfs_only
def test_stream_replica_pre_stamp_follower_raises_rebuild_signal(
    spark, tmp_path
):
    """A follower seeded before the of_id stamp existed must raise the
    rebuild signal whenever the primary carries a table_id at all —
    cursor numbers cannot prove lineage across a REPLACE (mirrors
    sync_replica's r10-ADVICE rule exactly; the gate runs BEFORE the
    stream is constructed, so no checkpoint state is minted)."""
    from cascading_hbase_spark.keyed.controlplane import get_control_plane
    from cascading_hbase_spark.keyed.replica import StaleReplicaError
    from cascading_hbase_spark.keyed.table import META_FILE, write_keyed

    primary = str(tmp_path / "p")
    follower = str(tmp_path / "f")
    ckpt = str(tmp_path / "ckpt")
    write_keyed(_kv(spark, [(1, "a")]), primary, "key", retain=10)
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    cp = get_control_plane()
    mp = _os.path.join(follower, META_FILE)
    meta = cp.read_json(mp)
    meta["replica"].pop("of_id", None)
    cp.write_json_atomic(mp, meta)
    with pytest.raises(StaleReplicaError, match="predates incarnation"):
        S.stream_replica(spark, primary, follower, ckpt)


@changefeed_source_localfs_only
def test_stream_replica_refuses_replaced_primary(spark, tmp_path):
    """REPLACE restarts the primary's version counter and mints a new
    table_id: a follower seeded from the OLD incarnation must be
    refused at stream start, not silently diverged."""
    from cascading_hbase_spark.keyed.replica import StaleReplicaError
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    primary = str(tmp_path / "p")
    follower = str(tmp_path / "f")
    write_keyed(_kv(spark, [(1, "a"), (2, "b")]), primary, "key", retain=10)
    S.stream_replica(
        spark, primary, follower, str(tmp_path / "c1")
    ).awaitTermination()
    write_keyed(_kv(spark, [(9, "z")]), primary, "key",
                mode=SinkMode.REPLACE, retain=10)
    with pytest.raises(StaleReplicaError, match="was replaced"):
        S.stream_replica(spark, primary, follower, str(tmp_path / "c2"))


@changefeed_source_localfs_only
def test_stream_replica_mid_stream_replace_refuses_merge(
    spark, tmp_path, monkeypatch
):
    """A REPLACE landing AFTER the start gate but BEFORE a batch merges
    must be refused inside the sink (the batch was planned against one
    incarnation's history and must not land on a follower seeded from
    another).  Simulated deterministically: the sink's meta reads are
    driver-side, so patching the table module's _load_meta tampers the
    primary's table_id only for reads made after the start gate ran —
    the source's planning worker is a separate process and unaffected."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import cascading_hbase_spark.keyed.table as KT
    from cascading_hbase_spark.keyed.table import (
        SinkMode, table_version, write_keyed,
    )

    primary = str(tmp_path / "p")
    follower = str(tmp_path / "f")
    ckpt = str(tmp_path / "ckpt")
    write_keyed(_kv(spark, [(1, "a")]), primary, "key", retain=10)
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    write_keyed(_kv(spark, [(2, "b")]), primary, "key",
                mode=SinkMode.APPEND)  # pending change -> non-empty batch
    real = KT._load_meta
    tampered = []

    def fake(path, *a, **k):
        meta = real(path, *a, **k)
        if tampered and path == primary:
            meta = dict(meta, table_id="mid-stream-replace")
        return meta

    monkeypatch.setattr(KT, "_load_meta", fake)
    v0 = table_version(follower)
    q = S.stream_replica(spark, primary, follower, ckpt)
    tampered.append(True)  # start gate already ran synchronously above
    with pytest.raises(StreamingQueryException, match="replaced while"):
        q.awaitTermination()
    monkeypatch.undo()
    assert table_version(follower) == v0  # the merge was refused


# ---------------------------------------------------------------------------
# changefeed pre-images + stream_matview (r11): always-on COUNT/SUM
# view maintenance off the changefeed stream
# ---------------------------------------------------------------------------


def _kgv(spark, rows):
    return spark.createDataFrame(rows, "key long, grp string, cents long")


@changefeed_source_localfs_only
def test_changefeed_stream_include_old_matches_batch_feed(spark, tmp_path):
    """include_old: the stream's _before pre-image struct must equal
    the batch feed's (null for inserts, old payload for updates and
    deletes) — same rows, same structs."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, changefeed_keyed, delete_keyed, write_keyed,
    )

    path = str(tmp_path / "t")
    write_keyed(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]), path,
                "key", retain=10)                                      # v1
    write_keyed(_kv(spark, [(2, "B"), (4, "d")]), path, "key",
                mode=SinkMode.APPEND)                                  # v2
    delete_keyed(spark, path, spark.createDataFrame([(1,)], "key long"))  # v3
    got = S.run_available_now(
        S.read_changefeed_stream(spark, path, from_version=1,
                                 include_old=True),
        "append",
    )
    want = changefeed_keyed(spark, path, 1, include_old=True)
    cols = ("key", "_change", "val", "_before")
    assert _rows(got, *cols) == _rows(want, *cols)
    # inserts carry a NULL struct, not a struct of nulls
    ins = got.filter("_change = 'insert'").select("_before").collect()
    assert all(r._before is None for r in ins)


@changefeed_source_localfs_only
def test_stream_matview_converges_and_adopts_scheduled_view(
    spark, tmp_path
):
    """The streamed view equals a from-scratch aggregate of the base
    after update + insert + delete — including ADOPTING a view that was
    seeded by create_aggregate_view (stream resumes from its cursor)."""
    from cascading_hbase_spark.keyed.matview import (
        create_aggregate_view, read_aggregate_view,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode, delete_keyed, read_keyed, write_keyed,
    )

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    ckpt = str(tmp_path / "c")
    write_keyed(_kgv(spark, [(1, "g1", 10), (2, "g1", 20), (3, "g2", 30)]),
                base, "key", retain=10)                                # v1
    create_aggregate_view(spark, base, view, "grp",
                          {"cents_total": "cents"})
    write_keyed(_kgv(spark, [(2, "g3", 25), (4, "g2", 40)]), base, "key",
                mode=SinkMode.APPEND)  # group-moving update + insert  # v2
    delete_keyed(spark, base, spark.createDataFrame([(1,)], "key long"))  # v3
    S.stream_matview(spark, base, view, ckpt).awaitTermination()
    got = _rows(read_aggregate_view(spark, view), "grp", "n_rows",
                "cents_total")
    want = _rows(
        read_keyed(spark, base).groupBy("grp").agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").alias("cents_total"),
        ),
        "grp", "n_rows", "cents_total",
    )
    assert got == want == [("g2", 2, 70), ("g3", 1, 25)]
    # the BIGINT accumulator contract holds through the stream path
    assert dict(read_aggregate_view(spark, view).dtypes)["cents_total"] == "bigint"


@changefeed_source_localfs_only
def test_stream_matview_checkpoint_resume_no_double_apply(spark, tmp_path):
    """A drain with nothing new commits nothing (the checkpoint, not
    the view's seed cursor, is the stream position), and a group
    emptied by deletes disappears from read_aggregate_view."""
    from cascading_hbase_spark.keyed.matview import read_aggregate_view
    from cascading_hbase_spark.keyed.table import (
        SinkMode, delete_keyed, table_version, write_keyed,
    )

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    ckpt = str(tmp_path / "c")
    write_keyed(_kgv(spark, [(1, "g1", 10), (2, "g2", 20)]), base, "key",
                retain=10)
    S.stream_matview(spark, base, view, ckpt, "grp",
                     {"cents_total": "cents"}).awaitTermination()
    delete_keyed(spark, base, spark.createDataFrame([(1,)], "key long"))
    S.stream_matview(spark, base, view, ckpt).awaitTermination()
    assert _rows(read_aggregate_view(spark, view), "grp", "n_rows",
                 "cents_total") == [("g2", 1, 20)]
    v = table_version(view)
    S.stream_matview(spark, base, view, ckpt).awaitTermination()
    assert table_version(view) == v  # empty drain -> no commit


@changefeed_source_localfs_only
def test_stream_matview_refuses_replaced_base(spark, tmp_path):
    """REPLACE mints a new base incarnation: the view's cursor names a
    dead history — refused at stream start (and a foreign checkpoint
    is refused by the stamp; covered in test_matview)."""
    from cascading_hbase_spark.keyed.matview import StaleViewError
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    write_keyed(_kgv(spark, [(1, "g1", 10)]), base, "key", retain=10)
    S.stream_matview(spark, base, view, str(tmp_path / "c1"), "grp",
                     {"cents_total": "cents"}).awaitTermination()
    write_keyed(_kgv(spark, [(9, "g9", 90)]), base, "key",
                mode=SinkMode.REPLACE, retain=10)
    with pytest.raises(StaleViewError, match="was replaced"):
        S.stream_matview(spark, base, view, str(tmp_path / "c1"))


@changefeed_source_localfs_only
def test_stream_cdc_refuses_foreign_checkpoint_on_fresh_target(
    spark, tmp_path
):
    """A checkpoint that already planned batches must not be pointed at
    a JUST-SEEDED follower or view: the stream would resume from the
    checkpoint's offsets instead of the seed cursor — silent gap.  Both
    entry points refuse before minting the target."""
    from cascading_hbase_spark.keyed.table import write_keyed

    primary = str(tmp_path / "p")
    write_keyed(_kgv(spark, [(1, "g1", 10)]), primary, "key", retain=10)
    ckpt = str(tmp_path / "c")
    S.stream_replica(spark, primary, str(tmp_path / "f0"),
                     ckpt).awaitTermination()  # dirties the checkpoint
    with pytest.raises(ValueError, match="FRESH checkpoint"):
        S.stream_replica(spark, primary, str(tmp_path / "f1"), ckpt)
    with pytest.raises(ValueError, match="FRESH checkpoint"):
        S.stream_matview(spark, primary, str(tmp_path / "v1"), ckpt,
                         "grp", {"cents_total": "cents"})


@changefeed_source_localfs_only
def test_stream_matview_refuses_reset_checkpoint(spark, tmp_path):
    """Deleting/resetting the checkpoint restarts batch numbering at 0;
    every replayed id <= the view's stamp would be SKIPPED by the
    exactly-once stamp while covering different offset ranges — silent
    delta loss.  The planned-offset cross-check refuses instead."""
    import shutil

    from cascading_hbase_spark.keyed.matview import StaleViewError
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    ckpt = str(tmp_path / "c")
    write_keyed(_kgv(spark, [(1, "g1", 10)]), base, "key", retain=10)
    S.stream_matview(spark, base, view, ckpt, "grp",
                     {"cents_total": "cents"}).awaitTermination()
    write_keyed(_kgv(spark, [(2, "g2", 20)]), base, "key",
                mode=SinkMode.APPEND)
    S.stream_matview(spark, base, view, ckpt).awaitTermination()  # stamps
    shutil.rmtree(ckpt)
    with pytest.raises(StaleViewError, match="reset or deleted"):
        S.stream_matview(spark, base, view, ckpt)


@changefeed_source_localfs_only
def test_stream_matview_refuses_checkpoint_ahead_of_view(spark, tmp_path):
    """A rebuilt view (stream stamp cleared) must not resume from the
    OLD checkpoint: its planned batches were applied to the dead view
    — the gap between seed cursor and checkpoint offsets would never
    re-apply.  Refused; and a handcrafted single-batch checkpoint whose
    WAL'd end predates the seed cursor (the double-apply window) is
    refused by the offsets-WAL parse."""
    import os as _o

    from cascading_hbase_spark.keyed.matview import (
        StaleViewError, create_aggregate_view,
    )
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    ckpt = str(tmp_path / "c")
    write_keyed(_kgv(spark, [(1, "g1", 10)]), base, "key", retain=10)
    S.stream_matview(spark, base, view, ckpt, "grp",
                     {"cents_total": "cents"}).awaitTermination()
    write_keyed(_kgv(spark, [(2, "g2", 20)]), base, "key",
                mode=SinkMode.APPEND)
    S.stream_matview(spark, base, view, ckpt).awaitTermination()
    write_keyed(_kgv(spark, [(3, "g3", 30)]), base, "key",
                mode=SinkMode.APPEND)
    S.stream_matview(spark, base, view, ckpt).awaitTermination()
    # rebuild the view: stream stamp cleared, cursor = current version
    create_aggregate_view(spark, base, view, "grp",
                          {"cents_total": "cents"})
    with pytest.raises(StaleViewError, match="different"):
        S.stream_matview(spark, base, view, ckpt)
    # single-planned-batch checkpoint with a WAL'd end BEHIND the seed
    # cursor: the one case batch-id arithmetic alone cannot tell apart
    # from a legitimate planned-not-applied crash window
    ck2 = str(tmp_path / "c2")
    _o.makedirs(_o.path.join(ck2, "offsets"))
    with open(_o.path.join(ck2, "offsets", "0"), "w") as f:
        f.write('v1\n{"batchWatermarkMs":0}\n{"version": 1}\n')
    with pytest.raises(StaleViewError, match="behind"):
        S.stream_matview(spark, base, view, ck2)


@changefeed_source_localfs_only
def test_stream_matview_count_only_view_and_missing_preimage_refusal(
    spark, tmp_path
):
    """A COUNT-only view (no SUM columns) is a legitimate streamed
    view; and apply_sum_delta names its fix when handed a feed built
    without pre-images instead of dying on a KeyError."""
    from cascading_hbase_spark.keyed.matview import (
        apply_sum_delta, read_aggregate_view,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode, changefeed_keyed, write_keyed,
    )

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    ckpt = str(tmp_path / "c")
    write_keyed(_kgv(spark, [(1, "g1", 10), (2, "g2", 20)]), base, "key",
                retain=10)
    S.stream_matview(spark, base, view, ckpt, "grp").awaitTermination()
    write_keyed(_kgv(spark, [(3, "g1", 30)]), base, "key",
                mode=SinkMode.APPEND)
    S.stream_matview(spark, base, view, ckpt).awaitTermination()
    assert _rows(read_aggregate_view(spark, view), "grp", "n_rows") == [
        ("g1", 2), ("g2", 1),
    ]
    with pytest.raises(ValueError, match="include_old"):
        apply_sum_delta(
            spark, view, changefeed_keyed(spark, base, 1), ckpt, 99
        )


@changefeed_source_localfs_only
def test_compaction_is_silent_on_the_changefeed_stream(spark, tmp_path):
    """Compaction rewrites generations without changing payload: the
    stream PLANS the touched buckets (generation pointers moved) but
    must emit ZERO change rows — a compaction storm on a 100 TB table
    must not re-trigger every downstream CDC consumer."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, compact_keyed, table_version, write_keyed,
    )

    path = str(tmp_path / "t")
    write_keyed(_kv(spark, [(1, "a"), (2, "b")]), path, "key", retain=10)
    write_keyed(_kv(spark, [(3, "c")]), path, "key", mode=SinkMode.APPEND)
    compact_keyed(spark, path, min_files=1)
    v_pre = table_version(path)
    got = S.run_available_now(
        S.read_changefeed_stream(spark, path, from_version=2), "append"
    )
    assert table_version(path) == v_pre  # compaction committed before
    assert got.count() == 0  # generations moved, payload did not


@changefeed_source_localfs_only
def test_cascaded_cdc_stream_view_over_stream_follower(spark, tmp_path):
    """The CDC stack composes: primary → stream_replica follower →
    stream_matview over the FOLLOWER.  The follower's own commits
    (apply_changefeed merges) are ordinary manifest generations, so it
    is itself a valid stream source; after draining both hops the view
    equals a from-scratch aggregate of the primary."""
    from cascading_hbase_spark.keyed.matview import read_aggregate_view
    from cascading_hbase_spark.keyed.table import (
        SinkMode, delete_keyed, read_keyed, write_keyed,
    )

    primary = str(tmp_path / "p")
    follower = str(tmp_path / "f")
    view = str(tmp_path / "v")
    c1, c2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    write_keyed(_kgv(spark, [(1, "g1", 10), (2, "g2", 20)]), primary,
                "key", retain=10)
    S.stream_replica(spark, primary, follower, c1).awaitTermination()
    S.stream_matview(spark, follower, view, c2, "grp",
                     {"cents_total": "cents"}).awaitTermination()
    write_keyed(_kgv(spark, [(2, "g1", 25), (3, "g2", 30)]), primary,
                "key", mode=SinkMode.APPEND)
    delete_keyed(spark, primary, spark.createDataFrame([(1,)], "key long"))
    S.stream_replica(spark, primary, follower, c1).awaitTermination()
    S.stream_matview(spark, follower, view, c2).awaitTermination()
    got = _rows(read_aggregate_view(spark, view), "grp", "n_rows",
                "cents_total")
    want = _rows(
        read_keyed(spark, primary).groupBy("grp").agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").alias("cents_total"),
        ),
        "grp", "n_rows", "cents_total",
    )
    assert got == want == [("g1", 1, 25), ("g2", 1, 30)]


@changefeed_source_localfs_only
def test_stream_matview_survives_long_empty_quiet_period(spark, tmp_path):
    """r11 ADVICE (medium): version-bump-only base commits drained as
    empty batches push the checkpoint's planned log past the view's
    stamp AND past the base's retain horizon (DEFAULT_RETAIN=2 needs
    just two).  The old gate then diffed a garbage-collected interval
    and leaked a raw FileNotFoundError on a perfectly healthy resume.
    The commits-log proof (committed-but-unstamped => empty for this
    view) must clear the resume without touching base history at all —
    and later real deltas must still apply."""
    from cascading_hbase_spark.keyed.matview import read_aggregate_view
    from cascading_hbase_spark.keyed.table import (
        SinkMode, delete_keyed, write_keyed,
    )

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    ckpt = str(tmp_path / "c")
    # DEFAULT retain (2): the quiet period must outrun the horizon
    write_keyed(_kgv(spark, [(1, "g1", 10), (2, "g2", 20)]), base, "key")
    S.stream_matview(spark, base, view, ckpt, "grp",
                     {"cents_total": "cents"}).awaitTermination()
    write_keyed(_kgv(spark, [(3, "g1", 30)]), base, "key",
                mode=SinkMode.APPEND)
    S.stream_matview(spark, base, view, ckpt).awaitTermination()  # stamps
    absent = spark.createDataFrame([(999,)], "key long")
    for _ in range(3):  # bump-only commits, each drained as EMPTY
        delete_keyed(spark, base, absent)
        S.stream_matview(spark, base, view, ckpt).awaitTermination()
    # resume is healthy (no FileNotFoundError, no StaleViewError) and
    # a real delta still folds in
    write_keyed(_kgv(spark, [(4, "g2", 40)]), base, "key",
                mode=SinkMode.APPEND)
    S.stream_matview(spark, base, view, ckpt).awaitTermination()
    assert _rows(read_aggregate_view(spark, view), "grp", "n_rows",
                 "cents_total") == [("g1", 2, 40), ("g2", 2, 60)]


@changefeed_source_localfs_only
def test_stream_matview_attach_blocks_scheduled_refresh_immediately(
    spark, tmp_path
):
    """r11 ADVICE (medium, TOCTOU): the one-maintenance-mode refusal
    must hold from the moment the stream is ATTACHED, not only after
    its first non-empty batch stamps — in the gap a scheduled refresh
    would advance the cursor and the stream's first batch then folds
    the same interval again (silent SUM double-apply)."""
    from cascading_hbase_spark.keyed.matview import (
        StaleViewError, refresh_aggregate_view,
    )
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    ckpt = str(tmp_path / "c")
    write_keyed(_kgv(spark, [(1, "g1", 10)]), base, "key", retain=10)
    # attach + drain with ZERO base changes: no batch ever stamps, but
    # the attach stamp (batch_id=-1) must already be in the manifest
    S.stream_matview(spark, base, view, ckpt, "grp",
                     {"cents_total": "cents"}).awaitTermination()
    write_keyed(_kgv(spark, [(2, "g1", 20)]), base, "key",
                mode=SinkMode.APPEND)
    with pytest.raises(StaleViewError, match="stream-maintained"):
        refresh_aggregate_view(spark, base, view)
    # the stream itself still owns the view
    S.stream_matview(spark, base, view, ckpt).awaitTermination()


@changefeed_source_localfs_only
def test_stream_replica_refuses_foreign_ahead_checkpoint(spark, tmp_path):
    """r11 ADVICE (low): an EXISTING follower attached to a foreign
    checkpoint whose offsets run AHEAD of the follower's applied state
    would silently skip the interval between them — permanently (LWW
    replays converge but never re-emit a skipped interval).  The
    applied-batch stamp the sink now writes makes the skip provable at
    stream start, and the un-stamped follower + dirty checkpoint
    combination is refused."""
    from cascading_hbase_spark.keyed.replica import create_replica
    from cascading_hbase_spark.keyed.replica import StaleReplicaError
    from cascading_hbase_spark.keyed.table import (
        SinkMode, _load_meta, read_keyed, write_keyed,
    )

    primary = str(tmp_path / "p")
    fa = str(tmp_path / "fa")
    fb = str(tmp_path / "fb")
    ckpt = str(tmp_path / "c")
    write_keyed(_kv(spark, [(1, "a")]), primary, "key", retain=10)   # v1
    create_replica(spark, primary, fb)  # follower B seeded at v1
    S.stream_replica(spark, primary, fa, ckpt).awaitTermination()
    write_keyed(_kv(spark, [(2, "b")]), primary, "key",
                mode=SinkMode.APPEND)                                # v2
    S.stream_replica(spark, primary, fa, ckpt).awaitTermination()
    # A's manifest carries the applied-batch stamp, same checkpoint
    st = _load_meta(fa)["replica"].get("stream")
    assert st is not None and st["checkpoint"] == ckpt
    assert st["batch_id"] >= 0
    # B (never streamed, cursor v1) + A's checkpoint (planned past v2
    # with real deltas in between): resuming would skip (v1, v2] on B
    with pytest.raises(StaleReplicaError, match="proven empty"):
        S.stream_replica(spark, primary, fb, ckpt)
    # ...while A itself still resumes cleanly off its own stamp
    S.stream_replica(spark, primary, fa, ckpt).awaitTermination()
    assert _rows(read_keyed(spark, fa), "key", "val") == [(1, "a"), (2, "b")]


@changefeed_source_localfs_only
def test_checkpoint_wal_format_pin(spark, tmp_path):
    """VERDICT r11 item 5: the CDC maintenance gates parse Spark's
    private HDFSMetadataLog layout (offsets/<batchId> = a version line,
    a metadata JSON line, then one offset JSON per source — ours is
    {"version": N}).  Pin the dependency against the RUNNING Spark: a
    version bump that changes the layout must fail HERE, loudly, not
    as a confusing StaleViewError on some operator's resume."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, table_version, write_keyed,
    )
    from cascading_hbase_spark.streaming.ops import (
        _max_checkpoint_commit, _max_checkpoint_offset, _walled_end,
    )

    primary = str(tmp_path / "p")
    follower = str(tmp_path / "f")
    ckpt = str(tmp_path / "c")
    write_keyed(_kv(spark, [(1, "a")]), primary, "key", retain=10)
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    write_keyed(_kv(spark, [(2, "b")]), primary, "key",
                mode=SinkMode.APPEND)
    S.stream_replica(spark, primary, follower, ckpt).awaitTermination()
    mp = _max_checkpoint_offset(ckpt)
    assert mp >= 0
    # a cleanly drained availableNow run commits everything it planned
    assert _max_checkpoint_commit(ckpt) == mp
    # the newest batch's WAL'd end offset is the primary's version NOW
    assert _walled_end(ckpt, mp) == table_version(primary)


@changefeed_source_localfs_only
def test_changefeed_stream_prunes_across_rebucket(spark, tmp_path):
    """VERDICT r11 item 1, streaming half: a micro-batch whose offset
    interval contains a re-bucketing compaction plans only the new
    buckets whose key range intersects a touched range — not the full
    cross product of both layouts — and still emits exactly the batch
    feed's rows."""
    import json

    from pyspark.sql.types import StructType

    from cascading_hbase_spark.keyed.table import (
        SinkMode, _load_meta, compact_keyed, write_keyed,
    )
    from cascading_hbase_spark.streaming.changefeed_source import (
        KeyedChangefeedStreamReader,
    )

    path = str(tmp_path / "t")
    write_keyed(
        _kv(spark, [(k, f"v{k}") for k in range(100)]), path, "key",
        n_buckets=4, retain=10,
    )                                                                   # v1
    compact_keyed(spark, path, n_buckets=2)                             # v2
    write_keyed(_kv(spark, [(90, "Y")]), path, "key",
                mode=SinkMode.APPEND)                                   # v3
    meta = _load_meta(path)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    reader = KeyedChangefeedStreamReader(
        schema, _reader_opts(path=path, from_version="1")
    )
    # the interval (1, 3] straddles the re-bucket; only key 90's new
    # bucket is planned (1 of 2), not both layouts in full
    parts = reader.partitions({"version": 1}, {"version": 3})
    assert len(parts) == 1
    rows = [
        (d["key"], d["val"], d["_change"])
        for p in parts
        for b in reader.read(p)
        for d in b.to_pylist()
    ]
    assert rows == [(90, "Y", "update")]
    # the re-bucket interval alone is content-identical: ZERO partitions
    assert reader.partitions({"version": 1}, {"version": 2}) == []
    # availableNow end-to-end across the re-bucket agrees
    got = S.run_available_now(
        S.read_changefeed_stream(spark, path, from_version=1), "append"
    )
    assert sorted(
        (r.key, r.val, r._change) for r in got.collect()
    ) == [(90, "Y", "update")]


@changefeed_source_localfs_only
def test_stream_matview_minmax_extremum_retraction(spark, tmp_path):
    """r12 growth seam: MIN/MAX views stream too.  The extremum rescan
    pins to the batch's WAL'd end offset, so deletes that remove a
    group's extremum and updates that move rows between groups stay
    exact across checkpointed drains — view ≡ from-scratch aggregate
    at every step."""
    from cascading_hbase_spark.keyed.matview import (
        apply_sum_delta, read_aggregate_view,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode, changefeed_keyed, delete_keyed, read_keyed, write_keyed,
    )

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    ckpt = str(tmp_path / "c")

    def _check():
        want = sorted(
            tuple(r)
            for r in read_keyed(spark, base)
            .groupBy("grp")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("cents_total"),
                F.min("cents").cast("bigint").alias("cents_min"),
                F.max("cents").cast("bigint").alias("cents_max"),
            )
            .collect()
        )
        got = sorted(
            tuple(r) for r in read_aggregate_view(spark, view).collect()
        )
        assert got == want, (got, want)

    write_keyed(
        _kgv(spark, [(1, "g1", 10), (2, "g1", 99), (3, "g2", 50)]),
        base, "key", retain=10,
    )
    S.stream_matview(
        spark, base, view, ckpt, "grp", {"cents_total": "cents"},
        mins={"cents_min": "cents"}, maxs={"cents_max": "cents"},
    ).awaitTermination()
    _check()
    # delete the g1 MAX (99) -> retraction rescan recomputes g1 from
    # the batch's end snapshot
    delete_keyed(spark, base, spark.createDataFrame([(2,)], "key long"))
    S.stream_matview(spark, base, view, ckpt).awaitTermination()
    _check()
    # move key 3 from g2 (emptying it) to g1 with a new MIN, and add a
    # new group's first row — one batch, three extremum paths
    write_keyed(
        _kgv(spark, [(3, "g1", 5), (4, "g3", 70)]), base, "key",
        mode=SinkMode.APPEND,
    )
    S.stream_matview(spark, base, view, ckpt).awaitTermination()
    _check()
    assert read_aggregate_view(spark, view).filter("grp = 'g2'").count() == 0
    # library misuse: extrema + no end_version refused with the fix
    with pytest.raises(ValueError, match="end_version"):
        apply_sum_delta(
            spark, view, changefeed_keyed(spark, base, 1, include_old=True),
            ckpt, 99,
        )


@changefeed_source_localfs_only
def test_stream_stamp_clobber_guard_at_commit(spark, tmp_path):
    """r12: the commit half of the attach-time mode stamp.  A
    scheduled refresh/sync that READ the manifest before the stream
    attached and commits after would spread its stale copy and
    silently DROP the stream stamp (matview: the double-apply door
    re-opens; replica: the next stream start refuses as foreign).
    write_keyed's meta-merge refuses the clobbering commit; the
    stream's own same-checkpoint stamps still pass."""
    from cascading_hbase_spark.keyed.table import (
        StaleWriteError, _load_meta, write_keyed,
    )

    base = str(tmp_path / "b")
    view = str(tmp_path / "v")
    ckpt = str(tmp_path / "c")
    write_keyed(_kgv(spark, [(1, "g1", 10)]), base, "key", retain=10)
    S.stream_matview(spark, base, view, ckpt, "grp",
                     {"cents_total": "cents"}).awaitTermination()
    mv = _load_meta(view)["matview"]
    assert mv["stream"]["checkpoint"] == ckpt  # attach stamped
    stale_mv = {k: v for k, v in mv.items() if k != "stream"}
    one = spark.createDataFrame(
        [("g1", 1, 10)], "grp string, n_rows long, cents_total long"
    )
    with pytest.raises(StaleWriteError, match="stream maintenance stamp"):
        write_keyed(one, view, "grp", meta_extra={"matview": stale_mv})
    # a different checkpoint is just as clobbering
    with pytest.raises(StaleWriteError, match="stream maintenance stamp"):
        write_keyed(
            one, view, "grp",
            meta_extra={"matview": {
                **stale_mv,
                "stream": {"checkpoint": "/other", "batch_id": 0},
            }},
        )
    # the stream's own stamp (same checkpoint, newer batch) passes
    write_keyed(
        one, view, "grp",
        meta_extra={"matview": {
            **stale_mv, "stream": {"checkpoint": ckpt, "batch_id": 99},
        }},
    )
    # replica flavor: same guard, same direction
    primary = str(tmp_path / "p")
    follower = str(tmp_path / "f")
    c2 = str(tmp_path / "c2")
    write_keyed(_kv(spark, [(1, "a")]), primary, "key", retain=10)
    S.stream_replica(spark, primary, follower, c2).awaitTermination()
    rep = _load_meta(follower)["replica"]
    assert rep["stream"]["checkpoint"] == c2
    stale_rep = {k: v for k, v in rep.items() if k != "stream"}
    with pytest.raises(StaleWriteError, match="stream maintenance stamp"):
        write_keyed(
            _kv(spark, [(1, "a")]), follower, "key",
            meta_extra={"replica": stale_rep},
        )


@changefeed_source_localfs_only
def test_stream_index_maintains_lookup(spark, tmp_path):
    """r12: the THIRD streaming CDC consumer — an always-on secondary
    index.  Insert / value-move / index-silent update / delete waves
    drain through stream_index; index_lookup must equal a full-scan
    filter over the final snapshot, the freshness stamp must track
    each batch's WAL'd end offset (so bump-only main commits drained
    as empty batches never leave the index reporting stale), and
    scheduled refresh_index commits are refused once the stream owns
    the index."""
    from cascading_hbase_spark.keyed.index import (
        StaleIndexError, create_index, drop_index, index_lookup,
        refresh_index,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode, StaleWriteError, _load_meta, delete_keyed, read_keyed,
        table_version, write_keyed,
    )

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "c")

    def _df(rows):
        return spark.createDataFrame(rows, "key long, color string, v long")

    def _check(value):
        got = sorted(
            r.key for r in index_lookup(spark, path, "color", value).collect()
        )
        want = sorted(
            r.key
            for r in read_keyed(spark, path).filter(F.col("color") == value).collect()
        )
        assert got == want, (value, got, want)
        return got

    write_keyed(
        _df([(1, "red", 0), (2, "blue", 0), (3, "red", 0)]), path, "key",
        retain=10,
    )                                                                   # v1
    S.stream_index(spark, path, "color", ckpt).awaitTermination()  # builds
    assert _check("red") == [1, 3]
    # one wave: insert, value-move, index-silent update, delete
    write_keyed(
        _df([(4, "red", 0), (2, "red", 0), (3, "red", 9)]), path, "key",
        mode=SinkMode.APPEND,
    )                                                                   # v2
    delete_keyed(spark, path, spark.createDataFrame([(1,)], "key long"))  # v3
    S.stream_index(spark, path, "color", ckpt).awaitTermination()
    assert _check("red") == [2, 3, 4]
    assert _check("blue") == []
    info = _load_meta(path.rstrip("/") + "__kt_idx_color")["index_of"]
    assert info["version"] == table_version(path)  # stamp == WAL'd end
    assert info["stream"]["checkpoint"] == ckpt
    # bump-only commit drains as an EMPTY batch; the stamp must still
    # advance (meta-only commit) so lookups stay fresh
    delete_keyed(spark, path, spark.createDataFrame([(99,)], "key long"))
    S.stream_index(spark, path, "color", ckpt).awaitTermination()
    assert _check("red") == [2, 3, 4]  # no StaleIndexError
    # scheduled refresh on a stream-owned index: refused at commit
    write_keyed(_df([(5, "blue", 0)]), path, "key", mode=SinkMode.APPEND)
    with pytest.raises(StaleWriteError, match="stream maintenance stamp"):
        refresh_index(spark, path, "color")
    S.stream_index(spark, path, "color", ckpt).awaitTermination()
    assert _check("blue") == [5]
    # rebuild hands maintenance back to batch — and the OLD checkpoint,
    # now lagging the rebuild, is refused at stream start
    write_keyed(_df([(6, "red", 0)]), path, "key", mode=SinkMode.APPEND)
    drop_index(path, "color")
    create_index(spark, path, "color")
    refresh_index(spark, path, "color")  # batch mode works again
    with pytest.raises(StaleIndexError, match="proven empty|rebuild"):
        S.stream_index(spark, path, "color", ckpt)


def test_stream_index_maintains_covering_payload(spark, tmp_path):
    """r12: a stream-maintained COVERING index must refresh its stored
    include columns on include-only updates (indexed value unchanged
    — the retract side is silent, but the upsert must overwrite the
    composite key's payload) and serve range lookups INDEX-ONLY
    through the order-preserving encoding."""
    from cascading_hbase_spark.keyed.index import (
        create_index,
        index_range_lookup,
    )
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "c")

    def _df(rows):
        return spark.createDataFrame(rows, "key long, score long, name string")

    write_keyed(
        _df([(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]), path, "key",
        retain=10,
    )
    create_index(spark, path, "score", include=["name"])
    S.stream_index(spark, path, "score", ckpt).awaitTermination()
    # include-only update (score unchanged) + a value move INTO range
    write_keyed(
        _df([(2, 20, "B2"), (3, 15, "c")]), path, "key",
        mode=SinkMode.APPEND,
    )
    S.stream_index(spark, path, "score", ckpt).awaitTermination()
    got = index_range_lookup(
        spark, path, "score", 11, 25, fields=["key", "score", "name"]
    )
    assert not {f for f in got.inputFiles() if "__kt_idx_" not in f}, (
        "covering range lookup touched main-table files"
    )
    assert sorted((r.key, r.score, r.name) for r in got.collect()) == [
        (2, 20, "B2"), (3, 15, "c"),
    ]


def test_stream_index_maintains_composite(spark, tmp_path):
    """r12: a COMPOSITE index stream-maintained — moves in either
    component retract the old composite key, and prefix+range lookups
    stay exact across the drain."""
    from cascading_hbase_spark.keyed.index import (
        create_index,
        index_lookup,
        index_range_lookup,
    )
    from cascading_hbase_spark.keyed.table import SinkMode, write_keyed

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "c")

    def _df(rows):
        return spark.createDataFrame(rows, "key long, cat string, v long")

    write_keyed(
        _df([(1, "a", 10), (2, "a", 20), (3, "b", 30)]), path, "key",
        retain=10,
    )
    create_index(spark, path, ["cat", "v"])
    S.stream_index(spark, path, ["cat", "v"], ckpt).awaitTermination()
    assert sorted(
        r.key
        for r in index_lookup(spark, path, ["cat", "v"], ("a",)).collect()
    ) == [1, 2]
    # move k=2 to cat b; move k=1's v
    write_keyed(
        _df([(2, "b", 20), (1, "a", 15)]), path, "key",
        mode=SinkMode.APPEND,
    )
    S.stream_index(spark, path, ["cat", "v"], ckpt).awaitTermination()
    assert sorted(
        r.key
        for r in index_lookup(spark, path, ["cat", "v"], ("a",)).collect()
    ) == [1]
    got = index_range_lookup(
        spark, path, ["cat", "v"], 15, 30, prefix=("b",)
    )
    assert sorted(r.key for r in got.collect()) == [2, 3]
