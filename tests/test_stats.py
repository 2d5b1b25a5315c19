"""Persisted column statistics (``keyed/stats.py``): exactness of the
exact mode, the approx-NDV contract, fingerprint-based no-op /
staleness, and the meta-only commit discipline."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cascading_hbase_spark.keyed.stats import (
    analyze_keyed,
    column_stats,
    table_stats,
)
from cascading_hbase_spark.keyed.table import (
    SinkMode,
    table_version,
    write_keyed,
)


@pytest.fixture
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            (i, (i % 5) if i % 7 else None, f"s{i % 3}", [1, 2])
            for i in range(70)
        ],
        "k int, v int, s string, arr array<int>",
    )
    write_keyed(df, path, "k", retain=10)
    return path, df


def test_exact_stats_match_recomputation(spark, table):
    path, df = table
    analyze_keyed(spark, path, exact=True)
    st = table_stats(path)
    assert st["row_count"] == 70
    assert st["exact"] is True and st["data_changed"] is False
    cs = {r.column: r for r in column_stats(spark, path).collect()}
    n_null = df.filter("v is null").count()
    assert cs["v"].n_null == n_null
    assert cs["v"].n_nonnull == 70 - n_null
    assert cs["v"].n_distinct == 5
    assert cs["k"].n_distinct == 70
    assert cs["s"].min == "s0" and cs["s"].max == "s2"
    # complex column: counts only, no min/max
    assert cs["arr"].min is None and cs["arr"].max is None
    assert cs["arr"].n_nonnull == 70


def test_footer_minmax_matches_computed(spark, tmp_path, monkeypatch):
    """Integer/date min/max short-circuit on the parquet footers (zero
    jobs); the stored string forms must be IDENTICAL to the aggregate
    path's CAST(MIN/MAX AS STRING) — including all-null columns (NULL
    both ways) — and strings/floats must keep using the aggregate."""
    import datetime

    from cascading_hbase_spark.keyed import stats as S
    from cascading_hbase_spark.keyed.table import _load_meta

    rows = [
        (
            i,
            (i % 5) if i % 7 else None,
            None,
            datetime.date(2030, 1, 1 + i % 27),
            f"s{i % 3}",
        )
        for i in range(40)
    ]
    schema = "k int, v int, nul int, d date, s string"
    dfa = spark.createDataFrame(rows, schema)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_keyed(dfa, pa, "k", retain=5)
    write_keyed(dfa, pb, "k", retain=5)

    # the helper itself: serves exactly the int/date columns
    fmm = S._footer_min_max(
        pa, _load_meta(pa), {f.name: f.dataType for f in dfa.schema.fields}
    )
    assert set(fmm) == {"k", "v", "nul", "d"}
    assert fmm["nul"] == (None, None)

    analyze_keyed(spark, pa, exact=True)  # footer path active (default)
    monkeypatch.setattr(S, "_footer_min_max", lambda *a, **k: {})
    analyze_keyed(spark, pb, exact=True)  # pure aggregate path
    ca = {r.column: r for r in column_stats(spark, pa).collect()}
    cb = {r.column: r for r in column_stats(spark, pb).collect()}
    for c in ("k", "v", "nul", "d", "s"):
        assert (ca[c].min, ca[c].max) == (cb[c].min, cb[c].max), c
    assert ca["nul"].min is None and ca["nul"].max is None
    assert fmm["k"] == (ca["k"].min, ca["k"].max)
    assert ca["d"].min == "2030-01-01"


def test_footer_minmax_bails_on_emptied_generation(spark, tmp_path):
    """A generation the manifest lists but whose parquet files are gone
    must not be trusted: the footer helper bails to {} and the stamped
    min/max come from the aggregate over what the scan sees; with the
    directory itself gone, analysis fails loudly."""
    import glob
    import os
    import shutil

    from cascading_hbase_spark.keyed import stats as S
    from cascading_hbase_spark.keyed.table import _load_meta, read_keyed

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i * 3) for i in range(40)], "k int, v int")
    write_keyed(df, path, "k", n_buckets=4)
    meta = _load_meta(path)
    top = max(meta["gens"], key=int)  # the bucket holding the max key
    gdir = os.path.join(path, f"_kt_bucket={top}", f"_kt_gen={meta['gens'][top]}")
    victims = glob.glob(os.path.join(gdir, "*.parquet"))
    assert victims
    for f in victims:
        os.remove(f)

    types = {f.name: f.dataType for f in df.schema.fields}
    assert S._footer_min_max(path, meta, types) == {}
    analyze_keyed(spark, path, exact=True)
    live = read_keyed(spark, path)
    lo, hi = live.agg(F.min("k"), F.max("k")).collect()[0]
    cs = {r.column: r for r in column_stats(spark, path).collect()}
    assert (cs["k"].min, cs["k"].max) == (str(lo), str(hi))
    assert table_stats(path)["row_count"] == live.count()

    shutil.rmtree(gdir)
    assert S._footer_min_max(path, meta, types) == {}
    with pytest.raises(FileNotFoundError, match="missing bucket gens"):
        analyze_keyed(spark, path)  # approx: not a no-op re-analyze


def test_approx_ndv_within_contract(spark, table):
    """approx_count_distinct's default rsd is 5%; allow a generous
    5-sigma band so the test never flakes while still catching a
    broken estimator (e.g. returning row counts)."""
    path, df = table
    analyze_keyed(spark, path)  # approx (the at-scale default)
    cs = {r.column: r for r in column_stats(spark, path).collect()}
    for col, exact in (("k", 70), ("v", 5), ("s", 3)):
        got = cs[col].n_distinct
        assert abs(got - exact) <= max(2, 0.25 * exact), (col, got, exact)


def test_noop_reanalyze_and_staleness_flag(spark, table):
    path, _ = table
    analyze_keyed(spark, path, exact=True)
    v1 = table_version(path)
    analyze_keyed(spark, path, exact=True)  # fingerprint unchanged
    assert table_version(path) == v1, "no-op re-analyze must not commit"
    # switching mode IS a change
    analyze_keyed(spark, path)
    assert table_version(path) == v1 + 1
    # a data commit flips the staleness flag; re-analyze clears it
    write_keyed(
        spark.createDataFrame([(999, 1, "zz", [1])],
                              "k int, v int, s string, arr array<int>"),
        path, "k", mode=SinkMode.APPEND,
    )
    assert table_stats(path)["data_changed"] is True
    analyze_keyed(spark, path, exact=True)
    st = table_stats(path)
    assert st["data_changed"] is False and st["row_count"] == 71


def test_analyze_subset_and_validation(spark, table):
    path, _ = table
    analyze_keyed(spark, path, columns=["v"], exact=True)
    cs = column_stats(spark, path)
    assert [r.column for r in cs.collect()] == ["v"]
    with pytest.raises(ValueError, match="not in table"):
        analyze_keyed(spark, path, columns=["nope"])


def test_table_stats_requires_analysis(spark, tmp_path):
    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame([(1, 2)], "k int, v int"), path, "k"
    )
    with pytest.raises(KeyError, match="no stats"):
        table_stats(path)


def test_heavy_hitters_exact_and_salt_suggestion(spark, tmp_path):
    """heavy_hitters=K records the exact top-K (count desc, value asc
    total order), and suggest_salt_factor derives the skew split from
    the hottest key's share — >1 for a skewed column, 1 for a near-
    uniform one, and KeyError without heavy-hitter stats."""
    from cascading_hbase_spark.keyed.stats import suggest_salt_factor

    path = str(tmp_path / "t")
    # 'hot' owns half the rows; k is unique (uniform)
    rows = [(i, "hot" if i % 2 == 0 else f"c{i % 10}") for i in range(100)]
    write_keyed(
        spark.createDataFrame(rows, "k int, cat string"), path, "k",
        retain=10,
    )
    analyze_keyed(spark, path, exact=True, heavy_hitters=3)
    st = table_stats(path)
    hh = st["columns"]["cat"]["heavy_hitters"]
    assert hh[0] == {"value": "hot", "count": 50}
    assert len(hh) == 3 and hh[1]["count"] <= 50
    # hottest cat key = 50% of rows -> ceil(0.5 * 32) = 16 salts
    assert suggest_salt_factor(path, "cat", partitions=32) == 16
    # uniform key column: top share 1% -> 1 salt at small partitions
    assert suggest_salt_factor(path, "k", partitions=32) == 1
    # cap respected
    assert suggest_salt_factor(path, "cat", partitions=1000, cap=64) == 64
    # hh config participates in the no-op identity: changing K commits
    v1 = table_version(path)
    analyze_keyed(spark, path, exact=True, heavy_hitters=3)  # no-op
    assert table_version(path) == v1
    analyze_keyed(spark, path, exact=True, heavy_hitters=5)
    assert table_version(path) == v1 + 1
    # counts-only analysis -> KeyError from the suggester
    analyze_keyed(spark, path, exact=True)
    with pytest.raises(KeyError, match="heavy-hitter"):
        suggest_salt_factor(path, "cat")


# ---------------------------------------------------------------------------
# stats-driven planning (r13): the persisted stats as the DEFAULT path
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _mk_analyzed(spark, tmp_path, name, skewed, heavy_hitters=4):
    from cascading_hbase_spark.keyed.table import read_keyed

    path = str(tmp_path / name)
    rows = [
        (i, "hot" if skewed and i % 2 == 0 else f"c{i % 25}", i * 3)
        for i in range(100)
    ]
    write_keyed(
        spark.createDataFrame(rows, "k int, cat string, v long"),
        path, "k", retain=10,
    )
    analyze_keyed(spark, path, exact=True, heavy_hitters=heavy_hitters)
    return path, read_keyed(spark, path)


def test_heavy_hitters_single_scan_all_columns(spark, tmp_path):
    """The heavy-hitter pass costs ONE scan of the table regardless of
    how many columns are analyzed (r13; the r12 cut re-scanned per
    column): the plan of the shared top-K frame contains exactly one
    table scan, and the recorded lists match the r12 per-column
    semantics exactly."""
    from cascading_hbase_spark.keyed.stats import _heavy_hitters_df
    from cascading_hbase_spark.keyed.table import read_keyed

    path = str(tmp_path / "t")
    rows = [
        (i, "hot" if i % 2 == 0 else f"c{i % 10}",
         7 if i % 3 == 0 else i % 50)
        for i in range(90)
    ]
    write_keyed(
        spark.createDataFrame(rows, "k int, cat string, v long"),
        path, "k", retain=10,
    )
    df = read_keyed(spark, path)
    hh = _heavy_hitters_df(df, ["cat", "v"], 3)
    plan = _plan(hh)
    assert plan.count("Scan parquet") == 1, plan
    # exact per-column top-K under the (count desc, value asc) order
    analyze_keyed(spark, path, exact=True, heavy_hitters=3)
    got = table_stats(path)["columns"]
    from collections import Counter

    for col in ("cat", "v"):
        idx = 1 if col == "cat" else 2
        cnt = Counter(str(r[idx]) for r in rows)
        want = sorted(
            cnt.items(), key=lambda t: (-t[1], t[0])
        )[:3]
        assert [
            (e["value"], e["count"]) for e in got[col]["heavy_hitters"]
        ] == want, col


def test_auto_salt_flips_agg_plan_on_stats(spark, tmp_path):
    """n_salt='auto' resolves from the PERSISTED heavy hitters: a
    measured hot key plans the two-phase salted aggregate (the _salt
    column is in the plan), a measured balanced key space plans the
    direct single-phase groupBy (no _salt anywhere) — the analyzed
    stats flip the physical plan.  Both branches return exactly the
    direct groupBy's rows."""
    from cascading_hbase_spark.functions.skew import salted_two_phase_agg

    aggs = {"total": ("sum", "v"), "n": ("count", "v")}
    for skewed in (True, False):
        path, df = _mk_analyzed(
            spark, tmp_path, f"t_{skewed}", skewed=skewed
        )
        out = salted_two_phase_agg(
            df, ["cat"], aggs, n_salt="auto", stats_path=path
        )
        plan = _plan(out)
        if skewed:
            assert "_salt#" in plan, "hot key should have planned salting"
        else:
            assert "_salt#" not in plan, (
                "balanced stats should plan the single-phase aggregate"
            )
        want = sorted(
            (r.cat, r.total, r.n)
            for r in df.groupBy("cat")
            .agg(F.sum("v").alias("total"), F.count("v").alias("n"))
            .collect()
        )
        assert sorted((r.cat, r.total, r.n) for r in out.collect()) == want


def test_auto_salt_flips_join_plan_on_stats(spark, tmp_path):
    """salted_join(n_salt='auto'): the factor is measured on the BIG
    side's join key — skewed stats plan the salted join (small side
    replicated over _salt), balanced stats skip salting entirely.
    Rows equal the plain join either way."""
    from cascading_hbase_spark.functions.skew import salted_join

    for skewed in (True, False):
        path, big = _mk_analyzed(
            spark, tmp_path, f"j_{skewed}", skewed=skewed
        )
        small = spark.createDataFrame(
            [("hot", 1)] + [(f"c{i}", i) for i in range(25)],
            "cat string, rank int",
        )
        out = salted_join(
            big, small, ["cat"], n_salt="auto", stats_path=path
        )
        plan = _plan(out)
        assert ("_salt#" in plan) == skewed
        want = sorted(
            (r.k, r.rank) for r in big.join(small, ["cat"]).collect()
        )
        assert sorted((r.k, r.rank) for r in out.collect()) == want


def test_auto_salt_validation_and_freshness(spark, tmp_path):
    """auto without stats_path refuses; STALE stats still resolve by
    default (a salt factor is a balance knob, never a correctness
    one); require_fresh=True raises StaleStatsError after a data
    commit."""
    from cascading_hbase_spark.functions.skew import salted_two_phase_agg
    from cascading_hbase_spark.keyed.stats import StaleStatsError

    path, df = _mk_analyzed(spark, tmp_path, "fresh", skewed=True)
    aggs = {"n": ("count", "v")}
    with pytest.raises(ValueError, match="stats_path"):
        salted_two_phase_agg(df, ["cat"], aggs, n_salt="auto")
    # data commit -> stats stale
    write_keyed(
        spark.createDataFrame([(1000, "hot", 1)], "k int, cat string, v long"),
        path, "k", mode=SinkMode.APPEND,
    )
    assert table_stats(path)["data_changed"] is True
    out = salted_two_phase_agg(  # stale-but-resolvable default
        df, ["cat"], aggs, n_salt="auto", stats_path=path
    )
    assert "_salt#" in _plan(out)
    with pytest.raises(StaleStatsError, match="re-run analyze_keyed"):
        salted_two_phase_agg(
            df, ["cat"], aggs, n_salt="auto", stats_path=path,
            require_fresh=True,
        )


def test_broadcast_advice_flips_join_plan(spark, tmp_path):
    """stats_hinted_join takes the broadcast decision from the dim's
    persisted stats at plan time.  With Spark's own size-based
    auto-broadcast disabled (so only OUR hint can broadcast): an
    analyzed small dim plans BroadcastHashJoin; the same dim under a
    tiny budget plans the shuffle join; STALE stats conservatively
    shuffle (a grown dim must never OOM the build side) and
    require_fresh raises; a never-analyzed dim is a KeyError."""
    from cascading_hbase_spark.keyed.stats import (
        StaleStatsError,
        broadcast_advice,
        stats_hinted_join,
    )

    dim_path, _dim = _mk_analyzed(spark, tmp_path, "dim", skewed=False)
    fact = spark.range(500).select(
        (F.col("id") % 100).cast("int").alias("k"),
        (F.col("id") * 7).alias("m"),
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert broadcast_advice(dim_path) is True
        hinted = stats_hinted_join(spark, fact, dim_path, on="k")
        assert "BroadcastHashJoin" in _plan(hinted)
        assert broadcast_advice(dim_path, max_bytes=1) is False
        unhinted = stats_hinted_join(
            spark, fact, dim_path, on="k", max_bytes=1
        )
        assert "BroadcastHashJoin" not in _plan(unhinted)
        # identical rows either way
        assert sorted(map(tuple, hinted.collect())) == sorted(
            map(tuple, unhinted.collect())
        )
        # staleness: conservative shuffle, loud under require_fresh
        write_keyed(
            spark.createDataFrame([(1000, "x", 1)], "k int, cat string, v long"),
            dim_path, "k", mode=SinkMode.APPEND,
        )
        assert broadcast_advice(dim_path) is False
        with pytest.raises(StaleStatsError):
            broadcast_advice(dim_path, require_fresh=True)
        never = str(tmp_path / "never_analyzed")
        write_keyed(
            spark.createDataFrame([(1, "a")], "k int, s string"), never, "k"
        )
        with pytest.raises(KeyError, match="no stats"):
            broadcast_advice(never)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_access_path_advice_flips_on_range_width(spark, tmp_path):
    """The stats-driven access-path chooser (r13): a NARROW range on
    an analyzed, indexed column serves through the secondary index
    (input files include the index dir), a WIDE one through the
    zone-pruned main scan (zero index bytes) — the persisted stats
    flip the physical plan while both branches return exactly the
    manual filter's rows."""
    from cascading_hbase_spark.keyed.stats import (
        access_path_advice,
        analyze_keyed,
        auto_range_lookup,
    )
    from cascading_hbase_spark.keyed.index import create_index
    from cascading_hbase_spark.keyed.table import read_keyed

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i * 10, f"s{i % 4}") for i in range(200)],
        "k int, v long, s string",
    )
    write_keyed(df, path, "k", zone_cols=["v"])
    create_index(spark, path, "v")
    analyze_keyed(spark, path, exact=True)

    # narrow: 200 values span [0, 1990]; [0, 100] is ~5% < 10%
    adv = access_path_advice(path, "v", 0, 100)
    assert adv["path"] == "index" and adv["stale"] is False
    assert 0 < adv["est_fraction"] <= 0.1
    narrow = auto_range_lookup(spark, path, "v", 0, 100)
    assert any("__kt_idx_" in f for f in narrow.inputFiles())
    expect = sorted(
        map(tuple, read_keyed(spark, path).filter("v between 0 and 100").collect())
    )
    assert sorted(map(tuple, narrow.select(*df.columns).collect())) == expect

    # wide: [0, 1500] is ~75% > 10%
    adv_w = access_path_advice(path, "v", 0, 1500)
    assert adv_w["path"] == "scan" and adv_w["est_fraction"] > 0.1
    wide = auto_range_lookup(spark, path, "v", 0, 1500)
    assert not any("__kt_idx_" in f for f in wide.inputFiles())
    assert wide.count() == 151

    # fields projection: both branches produce the SAME schema
    ni = auto_range_lookup(
        spark, path, "v", 0, 100, fields=["k", "v"], prefer="index"
    )
    ns = auto_range_lookup(
        spark, path, "v", 0, 100, fields=["k", "v"], prefer="scan"
    )
    assert ni.columns == ns.columns == ["k", "v"]
    assert sorted(map(tuple, ni.collect())) == sorted(map(tuple, ns.collect()))

    # open bound: estimated against the analyzed min/max
    adv_o = access_path_advice(path, "v", 1900, None)
    assert adv_o["path"] == "index"
    got = auto_range_lookup(spark, path, "v", 1900, None)
    assert got.count() == 10


def test_access_path_fallbacks_and_overrides(spark, tmp_path):
    """Degradation and override matrix: stale index -> scan with the
    blocker named (an AUTO planner degrades, it doesn't refuse);
    string range -> scan (width unestimable from min/max);
    prefer= forces either branch; both-open bounds refuse (the two
    paths disagree on NULLs); stale STATS still resolve (the salt
    rule: both paths are exact, staleness only costs performance) and
    require_fresh raises; un-analyzed column is a KeyError."""
    from cascading_hbase_spark.keyed.stats import (
        StaleStatsError,
        access_path_advice,
        analyze_keyed,
        auto_range_lookup,
    )
    from cascading_hbase_spark.keyed.index import create_index
    from cascading_hbase_spark.keyed.table import read_keyed

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i * 10, f"s{i:03d}") for i in range(100)],
        "k int, v long, s string",
    )
    write_keyed(df, path, "k", zone_cols=["v"])
    create_index(spark, path, "v")
    analyze_keyed(spark, path, exact=True, columns=["v", "s"])

    # stale INDEX (data commit after build) -> scan, blocker named
    write_keyed(
        spark.createDataFrame([(500, 5000, "zzz")], "k int, v long, s string"),
        path, "k", mode=SinkMode.APPEND,
    )
    adv = access_path_advice(path, "v", 0, 50)
    assert adv["path"] == "scan" and "index unusable" in adv["reason"]
    # stale STATS resolve by default (salt rule), loud on request
    assert adv["stale"] is True
    with pytest.raises(StaleStatsError):
        access_path_advice(path, "v", 0, 50, require_fresh=True)
    # re-analyze + refresh: narrow goes back to the index
    from cascading_hbase_spark.keyed.index import refresh_index

    refresh_index(spark, path, "v")
    analyze_keyed(spark, path, exact=True, columns=["v", "s"])
    assert access_path_advice(path, "v", 0, 50)["path"] == "index"

    # string column: indexable but width-unestimable -> scan
    create_index(spark, path, "s")
    advs = access_path_advice(path, "s", "s000", "s002")
    assert advs["path"] == "scan" and "not estimable" in advs["reason"]
    # ...unless forced: prefer='index' serves it through the index
    forced = auto_range_lookup(
        spark, path, "s", "s000", "s002", prefer="index"
    )
    assert any("__kt_idx_" in f for f in forced.inputFiles())
    assert forced.count() == 3

    # both-open refuses; bad prefer refuses
    with pytest.raises(ValueError, match="at least one bound"):
        auto_range_lookup(spark, path, "v")
    with pytest.raises(ValueError, match="prefer"):
        auto_range_lookup(spark, path, "v", 0, 1, prefer="maybe")
    # un-analyzed column
    with pytest.raises(KeyError, match="no stats"):
        access_path_advice(path, "k", 0, 1)
    # results parity on the degraded path too
    got = auto_range_lookup(spark, path, "v", 0, 50)
    exp = read_keyed(spark, path).filter("v between 0 and 50")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, exp.collect())
    )


def test_point_lookup_per_value_selectivity(spark, tmp_path):
    """Equality access-path choice uses PER-VALUE selectivity: the
    probe that IS a measured heavy hitter plans from its exact count
    (the hot value owning half the table scans — a naive rows/NDV
    average, ~1% here, would have mis-planned it through the index),
    every cold value plans from the residual average and rides the
    index.  Plus the refusal edges: table key -> get_keyed pointer,
    NULL probe -> isNull pointer."""
    from cascading_hbase_spark.keyed.index import create_index
    from cascading_hbase_spark.keyed.stats import (
        analyze_keyed,
        auto_point_lookup,
        point_lookup_advice,
    )
    from cascading_hbase_spark.keyed.table import read_keyed

    path = str(tmp_path / "t")
    rows = [(i, "HOT" if i < 500 else f"c{i % 100:03d}", i * 2)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "k int, cat string, m long")
    write_keyed(df, path, "k")
    create_index(spark, path, "cat")
    analyze_keyed(
        spark, path, columns=["cat"], exact=True, heavy_hitters=4
    )

    hot = point_lookup_advice(path, "cat", "HOT")
    assert hot["path"] == "scan" and "heavy-hitter" in hot["reason"]
    assert hot["est_rows"] == 500  # the measured count, not an average
    cold = point_lookup_advice(path, "cat", "c042")
    assert cold["path"] == "index" and "residual" in cold["reason"]
    assert cold["est_fraction"] <= 0.1

    got_hot = auto_point_lookup(spark, path, "cat", "HOT")
    assert not any("__kt_idx_" in f for f in got_hot.inputFiles())
    got_cold = auto_point_lookup(spark, path, "cat", "c042")
    assert any("__kt_idx_" in f for f in got_cold.inputFiles())
    base = read_keyed(spark, path)
    assert got_hot.count() == 500
    assert sorted(map(tuple, got_cold.collect())) == sorted(
        map(tuple, base.filter("cat = 'c042'").collect())
    )
    # both branches agree on schema under fields=
    fi = auto_point_lookup(
        spark, path, "cat", "c042", fields=["k", "cat"], prefer="index"
    )
    fs = auto_point_lookup(
        spark, path, "cat", "c042", fields=["k", "cat"], prefer="scan"
    )
    assert fi.columns == fs.columns == ["k", "cat"]
    assert sorted(map(tuple, fi.collect())) == sorted(map(tuple, fs.collect()))

    with pytest.raises(ValueError, match="table key"):
        auto_point_lookup(spark, path, "k", 5)
    with pytest.raises(ValueError, match="NULL"):
        auto_point_lookup(spark, path, "cat", None)


def test_histogram_selectivity_beats_uniform_assumption(spark, tmp_path):
    """analyze_keyed(histogram=B) persists equi-width bin counts (one
    scan for all columns), and access_path_advice estimates range
    mass from the MEASURED distribution: on a skewed column whose
    sparse tail spans half the value WIDTH but holds ~2.5% of the
    rows, the histogram plans the index where the uniform-width
    assumption would have planned a scan — the same query, flipped by
    how well the stats describe the data."""
    from cascading_hbase_spark.keyed.index import create_index
    from cascading_hbase_spark.keyed.stats import (
        access_path_advice,
        analyze_keyed,
        auto_range_lookup,
        table_stats,
    )
    from cascading_hbase_spark.keyed.table import read_keyed, table_version

    path = str(tmp_path / "t")
    # 950 rows dense in [0, 100); 50 rows spread over [100, 10000]
    rows = [(i, i % 100, 1) for i in range(950)]
    rows += [(950 + j, 100 + j * 198, 1) for j in range(50)]
    df = spark.createDataFrame(rows, "k int, v long, one int")
    # retain=10: each analyze is a meta-only commit, and the index's
    # point-in-time serve needs its stamped generation readable
    write_keyed(df, path, "k", zone_cols=["v"], retain=10)
    create_index(spark, path, "v")

    analyze_keyed(
        spark, path, columns=["v"], exact=True, histogram=20
    )
    ent = table_stats(path)["columns"]["v"]
    hist = ent["histogram"]
    assert hist["bins"] == 20 and len(hist["counts"]) == 20
    assert sum(hist["counts"]) == ent["n_nonnull"]
    assert hist["counts"][0] > 900  # the dense region is measured

    adv_h = access_path_advice(path, "v", 5000, 10000)
    assert adv_h["path"] == "index" and "histogram" in adv_h["reason"], adv_h
    assert adv_h["est_fraction"] <= 0.05

    # same data, histogram dropped: the uniform-width assumption reads
    # the range as half the column and plans the scan
    analyze_keyed(spark, path, columns=["v"], exact=True)
    adv_u = access_path_advice(path, "v", 5000, 10000)
    assert adv_u["path"] == "scan" and "uniform" in adv_u["reason"], adv_u
    assert adv_u["est_fraction"] > 0.4

    # rows are identical through either physical path
    got = auto_range_lookup(spark, path, "v", 5000, 10000, prefer="index")
    exp = read_keyed(spark, path).filter("v between 5000 and 10000")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, exp.collect())
    )

    # the histogram config participates in the no-op identity
    analyze_keyed(spark, path, columns=["v"], exact=True, histogram=20)
    v1 = table_version(path)
    analyze_keyed(spark, path, columns=["v"], exact=True, histogram=20)
    assert table_version(path) == v1, "no-op re-analyze must not commit"

    # single-valued column: degenerate one-bin histogram, whole mass
    analyze_keyed(
        spark, path, columns=["one"], exact=True, histogram=8
    )
    one = table_stats(path)["columns"]["one"]["histogram"]
    assert one["counts"] == [1000] and one["lo"] == one["hi"] == 1.0


def test_in_list_access_path_and_shuffle_sizing(spark, tmp_path):
    """auto_in_lookup completes the auto access-path family: an
    all-cold IN-list rides the index (per-value residual estimates
    summed), a list CONTAINING the measured hot value tips to the
    scan (its count alone busts the threshold), and both branches
    return identical rows.  suggest_shuffle_partitions sizes shuffles
    from row_count x estimated width — monotone in the target and
    clamped."""
    from cascading_hbase_spark.keyed.index import create_index
    from cascading_hbase_spark.keyed.stats import (
        analyze_keyed,
        auto_in_lookup,
        suggest_shuffle_partitions,
    )
    from cascading_hbase_spark.keyed.table import read_keyed

    path = str(tmp_path / "t")
    rows = [(i, "HOT" if i < 500 else f"c{i % 100:03d}", i * 2)
            for i in range(1000)]
    write_keyed(
        spark.createDataFrame(rows, "k int, cat string, m long"),
        path, "k", retain=10,
    )
    create_index(spark, path, "cat")
    analyze_keyed(
        spark, path, columns=["cat"], exact=True, heavy_hitters=4
    )

    cold = auto_in_lookup(spark, path, "cat", ["c042", "c043", "c044"])
    assert any("__kt_idx_" in f for f in cold.inputFiles())
    hot = auto_in_lookup(spark, path, "cat", ["c042", "HOT"])
    assert not any("__kt_idx_" in f for f in hot.inputFiles())
    base = read_keyed(spark, path)
    assert sorted(map(tuple, hot.collect())) == sorted(
        map(tuple, base.filter("cat in ('c042', 'HOT')").collect())
    )
    assert sorted(map(tuple, cold.collect())) == sorted(
        map(tuple, base.filter("cat in ('c042','c043','c044')").collect())
    )
    # forced branches agree under fields=
    fi = auto_in_lookup(
        spark, path, "cat", ["c042", "c043"], fields=["k", "cat"],
        prefer="index",
    )
    fs = auto_in_lookup(
        spark, path, "cat", ["c042", "c043"], fields=["k", "cat"],
        prefer="scan",
    )
    assert fi.columns == fs.columns == ["k", "cat"]
    assert sorted(map(tuple, fi.collect())) == sorted(map(tuple, fs.collect()))
    with pytest.raises(ValueError, match="at least one"):
        auto_in_lookup(spark, path, "cat", [])
    with pytest.raises(ValueError, match="NULL"):
        auto_in_lookup(spark, path, "cat", ["c042", None])

    # shuffle sizing: the documented formula, monotone and clamped
    import math

    from cascading_hbase_spark.keyed.stats import (
        estimated_row_bytes,
        table_stats,
    )

    st = table_stats(path)
    want = max(1, min(4096, math.ceil(
        st["row_count"] * estimated_row_bytes(st) / (1024 * 1024)
    )))
    assert suggest_shuffle_partitions(path, target_mb=1) == want
    assert (
        suggest_shuffle_partitions(path, target_mb=1)
        >= suggest_shuffle_partitions(path, target_mb=1024)
        >= 1
    )
    assert suggest_shuffle_partitions(path, target_mb=10**6, floor=7) == 7


from hypothesis import given, settings
from hypothesis import strategies as st_


@settings(max_examples=200, deadline=None)
@given(
    counts=st_.lists(st_.integers(0, 1000), min_size=1, max_size=24),
    lo=st_.floats(-100, 100, allow_nan=False),
    width=st_.floats(1e-6, 200, allow_nan=False),
    a=st_.floats(0, 1),
    b=st_.floats(0, 1),
)
def test_hist_fraction_invariants(counts, lo, width, a, b):
    """Pure invariants of the histogram range estimator: bounded to
    [0, 1]; the full analyzed range carries all mass; monotone under
    range inclusion; and a bin-edge split of the full range is
    additive (the interpolation never double-counts an edge).  Width
    is bounded away from float underflow: a width so small that
    ``lo + width == lo`` degenerates to the point-histogram branch,
    where a split of a point range is meaningless (the first
    hypothesis run falsified exactly that — test-model, not
    estimator)."""
    from cascading_hbase_spark.keyed.stats import _hist_fraction

    hist = {"lo": lo, "hi": lo + width, "counts": counts}
    if hist["hi"] <= hist["lo"]:  # float underflow at large |lo|
        return
    total = sum(counts)
    full = _hist_fraction(hist, lo, lo + width)
    assert 0.0 <= full <= 1.0
    if total:
        assert abs(full - 1.0) < 1e-6
    # two sub-ranges, one containing the other: monotone
    x1, x2 = sorted([lo + a * width, lo + b * width])
    inner = _hist_fraction(hist, x1, x2)
    outer = _hist_fraction(hist, lo, lo + width)
    assert 0.0 <= inner <= outer + 1e-6
    # split at a bin edge: additive
    if total and width > 0 and len(counts) > 1:
        edge = lo + width * (len(counts) // 2) / len(counts)
        left = _hist_fraction(hist, lo, edge)
        right = _hist_fraction(hist, edge, lo + width)
        # the edge bin's boundary point contributes zero width to both
        assert abs((left + right) - full) < 1e-6
