"""PageRank: distributed implementation vs a pure-python fixed-point
oracle on small graphs (including dangling nodes and disconnected
components), plus structural sanity on the near-dup graph."""

from __future__ import annotations

import os

import pytest

from cascading_hbase_spark.functions.graph import pagerank


def _python_pagerank(edges, damping=0.85, max_iter=20, tol=1e-6):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    out = {}
    for s, d in set(edges):
        out.setdefault(s, []).append(d)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(max_iter):
        dangling = sum(rank[v] for v in nodes if v not in out)
        base = (1.0 - damping) / n + damping * dangling / n
        new = {v: base for v in nodes}
        for s, ds in out.items():
            share = rank[s] / len(ds)
            for d in ds:
                new[d] += damping * share
        delta = sum(abs(new[v] - rank[v]) for v in nodes)
        rank = new
        if delta < tol:
            break
    return rank


GRAPHS = [
    # classic 4-node example with a dangling node (d has no out-edges)
    [(1, 2), (1, 3), (2, 3), (3, 4)],
    # cycle
    [(1, 2), (2, 3), (3, 1)],
    # two disconnected components, one a star
    [(1, 2), (1, 3), (1, 4), (10, 11), (11, 10)],
]


@pytest.mark.parametrize("edges", GRAPHS)
def test_pagerank_matches_python_oracle(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, max_iter=20).collect()}
    want = _python_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-6)


def test_pagerank_authority_on_dup_graph(spark):
    """On a star-shaped near-dup cluster the hub (the doc every other
    doc links to) must outrank the leaves — the canonical-pick use."""
    edges = [(i, 99) for i in range(1, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df).collect()}
    hub = got[99]
    assert all(hub > got[i] for i in range(1, 8))


def test_pagerank_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df).collect() == []


SF1_DIR = "/root/repo/.scaledata/sf1"


@pytest.mark.skipif(
    not os.path.isdir(SF1_DIR), reason="sf1 probe data not built"
)
def test_itemcf_degree_bounded_at_sf1(spark):
    """Densification guard (VERDICT r05 item 8): itemcf/triangle window
    partitions are sized by co-purchase graph degree, so a max-degree
    blowup at the sf1 probe data means some future testdata or
    support-threshold change re-densified the graph — catch it in CI
    rather than at the scale probe.  The sf1 top-1% threshold measured
    182 (r06); 2048 leaves honest headroom while catching the 10^4+
    degrees that would make per-item windows and wedge joins
    pathological."""
    import pyspark.sql.functions as F

    from cascading_hbase_spark.queries import joins
    from cascading_hbase_spark.queries.joins import (
        _copurchase_edges,
        _node_degrees,
    )

    try:
        edges = _copurchase_edges(spark, SF1_DIR)
        max_deg = (
            _node_degrees(edges).agg(F.max("degree")).collect()[0][0]
        )
    finally:
        # release only the corpus-scale sf1 pins this test created:
        # _pinned evicts on the NEXT different-key request, which would
        # leave every later test under the sf1 relation's memory — but
        # small-sf pins belonging to other tests in the session are
        # not ours to evict
        for cache in (joins._EDGE_CACHE, joins._CAPPED_EDGE_CACHE):
            for key in list(cache):
                if key[1] == SF1_DIR:
                    joins._release_pin(cache.pop(key))
    assert max_deg <= 2048, (
        f"co-purchase graph max degree {max_deg} at the sf1 probe — "
        f"itemcf windows and triangle wedge joins will degenerate; "
        f"raise min support or re-check the scale generator"
    )


def _edges_df(spark, pairs):
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(a, b) for a, b in pairs], "pa long, pb long"
    )
    return df.select(F.least("pa", "pb").alias("pa"),
                     F.greatest("pa", "pb").alias("pb")).distinct()


def _brute_triangles(pairs):
    es = {tuple(sorted(p)) for p in pairs}
    nodes = sorted({n for e in es for n in e})
    tris = 0
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if (a, b) not in es:
                continue
            for c in nodes:
                if c > b and (b, c) in es and (a, c) in es:
                    tris += 1
    return tris


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_triangle_count_matches_bruteforce(spark, seed):
    """Oriented-wedge enumeration equals brute-force triangle counting
    on random graphs — independent of the lineitem-derived oracle."""
    import random

    import pyspark.sql.functions as F

    from cascading_hbase_spark.queries.joins import _triangles

    rnd = random.Random(seed)
    pairs = {
        tuple(sorted(rnd.sample(range(12), 2))) for _ in range(30)
    }
    got = _triangles(_edges_df(spark, pairs)).count()
    assert got == _brute_triangles(pairs)


def test_capped_and_sampled_triangles_are_subsets(spark):
    """Structural contracts of the two scale levers: the capped
    subgraph's triangles and the sampled subgraph's triangles are each
    subsets of the exact triangle set (dropping edges can only remove
    triangles, never create them)."""
    import random

    from cascading_hbase_spark.queries.joins import (
        _degree_capped_edges,
        _sampled_edges,
        _triangles,
    )

    rnd = random.Random(7)
    pairs = {
        tuple(sorted(rnd.sample(range(15), 2))) for _ in range(60)
    }
    edges = _edges_df(spark, pairs)
    exact = {tuple(r) for r in _triangles(edges).collect()}
    capped = {
        tuple(r) for r in _triangles(_degree_capped_edges(edges)).collect()
    }
    sampled = {
        tuple(r) for r in _triangles(_sampled_edges(edges)).collect()
    }
    assert capped <= exact
    assert sampled <= exact


def _n_pinned_rdds(spark) -> int:
    """JVM-side persistent-RDD count: the observable footprint of
    localCheckpoint pins (they live in the block manager, invisible to
    DataFrame.storageLevel / the CacheManager)."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_pinned_cache_lifecycle(spark):
    """_pinned returns the same relation for the same key and evicts
    the previous pin when the key changes — at most one LIVE pin per
    cache.  An evicted pin's checkpoint blocks are released one
    GENERATION later (the next eviction), so a thread still consuming
    the old pin when a cross-key build lands is not failed mid-query
    (ADVICE r13); the parked footprint stays bounded at one relation."""
    from cascading_hbase_spark.queries import joins
    from cascading_hbase_spark.queries.joins import _pinned, clear_edge_caches

    clear_edge_caches()  # start with an empty graveyard
    cache = {}
    base = _n_pinned_rdds(spark)
    a = _pinned(cache, spark, "dirA", lambda: spark.range(5).toDF("n"))
    a2 = _pinned(cache, spark, "dirA", lambda: spark.range(99).toDF("n"))
    assert a is a2 and a.count() == 5  # cached, builder not re-invoked
    assert _n_pinned_rdds(spark) == base + 1  # pinned
    b = _pinned(cache, spark, "dirB", lambda: spark.range(7).toDF("n"))
    assert b.count() == 7
    assert len(cache) == 1  # previous pin evicted (not servable anew)
    # dirA is parked, not yet released: still readable by an in-flight
    # consumer that fetched it before the eviction.
    assert _n_pinned_rdds(spark) == base + 2
    assert a.count() == 5  # grace generation: old consumer unharmed
    c = _pinned(cache, spark, "dirC", lambda: spark.range(9).toDF("n"))
    assert c.count() == 9
    # Bounded: the next eviction released dirA and parked dirB.
    assert _n_pinned_rdds(spark) == base + 2
    # cleanup: free the parked pin and the live one
    clear_edge_caches()
    joins._release_pin(c)
    cache.clear()
    assert _n_pinned_rdds(spark) == base


def test_pinned_cache_eviction_spares_other_cache_parked_pin(spark):
    """Each cache parks its own evicted pin: an eviction in the capped
    edge cache must not release the base edge cache's parked pin (and
    the reverse) — each keeps its one-generation grace."""
    from cascading_hbase_spark.queries.joins import (
        _CAPPED_EDGE_CACHE,
        _EDGE_CACHE,
        _pinned,
        clear_edge_caches,
    )

    clear_edge_caches()
    base = _n_pinned_rdds(spark)
    a = _pinned(_EDGE_CACHE, spark, "dirA", lambda: spark.range(5).toDF("n"))
    _pinned(_EDGE_CACHE, spark, "dirB", lambda: spark.range(6).toDF("n"))
    c = _pinned(_CAPPED_EDGE_CACHE, spark, "dirA", lambda: spark.range(3).toDF("n"))
    _pinned(_CAPPED_EDGE_CACHE, spark, "dirB", lambda: spark.range(4).toDF("n"))
    # a parked in the base cache, c in the capped one; both readable
    assert _n_pinned_rdds(spark) == base + 4
    assert a.count() == 5 and c.count() == 3
    # a second capped eviction frees c (its own parked pin) only
    _pinned(_CAPPED_EDGE_CACHE, spark, "dirC", lambda: spark.range(2).toDF("n"))
    assert _n_pinned_rdds(spark) == base + 4
    assert a.count() == 5
    # and a second base eviction frees a, sparing the capped parked pin
    _pinned(_EDGE_CACHE, spark, "dirC", lambda: spark.range(1).toDF("n"))
    assert _n_pinned_rdds(spark) == base + 4
    clear_edge_caches()
    assert _n_pinned_rdds(spark) == base


def test_pinned_cache_survives_failed_build(spark):
    """A request whose build raises (bad sf_dir -> parquet listing
    error) must not evict the healthy previous pin (r06 review
    finding: eviction used to run before the build)."""
    from cascading_hbase_spark.queries.joins import _pinned

    cache = {}
    base = _n_pinned_rdds(spark)
    good = _pinned(cache, spark, "dirA", lambda: spark.range(5).toDF("n"))
    assert _n_pinned_rdds(spark) == base + 1

    def boom():
        raise IOError("PATH_NOT_FOUND: /nonexistent")

    with pytest.raises(IOError):
        _pinned(cache, spark, "/nonexistent", boom)
    assert len(cache) == 1  # healthy pin untouched
    assert _n_pinned_rdds(spark) == base + 1
    assert good.count() == 5  # still materialized and servable
    again = _pinned(cache, spark, "dirA", lambda: spark.range(99).toDF("n"))
    assert again is good  # still served from cache, builder not re-run


def test_pinned_cache_key_is_realpath_normalized(spark, tmp_path):
    """`sf1` vs `sf1/` (or a symlinked alias) must hit the SAME pin —
    the raw-string key thrashed the single-pin eviction (ADVICE r06)."""
    from cascading_hbase_spark.queries.joins import _pinned

    d = tmp_path / "sfX"
    d.mkdir()
    alias = tmp_path / "sfX_link"
    alias.symlink_to(d)

    cache = {}
    a = _pinned(cache, spark, str(d), lambda: spark.range(5).toDF("n"))
    b = _pinned(cache, spark, str(d) + "/", lambda: spark.range(99).toDF("n"))
    c = _pinned(cache, spark, str(alias), lambda: spark.range(7).toDF("n"))
    from cascading_hbase_spark.queries import joins

    assert a is b is c  # one pin, no eviction churn
    assert len(cache) == 1
    cache.clear()
    joins._release_pin(a)  # don't leak the pin into the shared session


def test_pinned_cache_concurrent_requests_build_once(spark):
    """Two threads racing the same cold key must not double-build (one
    persisted relation would leak unpersistable) — mutation is
    serialized under _PIN_LOCK (ADVICE r06)."""
    import threading
    import time

    from cascading_hbase_spark.queries import joins
    from cascading_hbase_spark.queries.joins import _pinned

    cache = {}
    builds = []

    def build():
        builds.append(1)
        time.sleep(0.2)  # widen the race window
        return spark.range(5).toDF("n")

    got = [None] * 8
    def worker(i):
        got[i] = _pinned(cache, spark, "dirZ", build)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1, f"built {len(builds)} times under race"
    assert all(g is got[0] for g in got)
    assert len(cache) == 1
    joins._release_pin(got[0])  # don't leak the pin into the shared session


def test_clear_edge_caches_releases_pins(spark):
    """After regenerating data under a pinned path, clear_edge_caches()
    releases the stale pins so the next request rebuilds from disk."""
    from cascading_hbase_spark.queries.joins import (
        _CAPPED_EDGE_CACHE,
        _EDGE_CACHE,
        _pinned,
        clear_edge_caches,
    )

    base = _n_pinned_rdds(spark)
    a = _pinned(_EDGE_CACHE, spark, "dirC", lambda: spark.range(5).toDF("n"))
    b = _pinned(_CAPPED_EDGE_CACHE, spark, "dirC", lambda: spark.range(3).toDF("n"))
    assert _n_pinned_rdds(spark) == base + 2
    clear_edge_caches()
    assert not _EDGE_CACHE and not _CAPPED_EDGE_CACHE
    assert _n_pinned_rdds(spark) == base  # checkpoint blocks released
    rebuilt = _pinned(_EDGE_CACHE, spark, "dirC", lambda: spark.range(9).toDF("n"))
    assert rebuilt.count() == 9  # builder re-ran, not served stale
    clear_edge_caches()  # leave module caches clean for other tests


def test_pinned_cache_nested_build_does_not_deadlock(spark):
    """The capped-edge build pins the base edge relation from INSIDE
    its own _pinned call — the lock must be reentrant (a plain Lock
    self-deadlocked here; caught by the round-8 verify run)."""
    from cascading_hbase_spark.queries import joins
    from cascading_hbase_spark.queries.joins import _pinned, clear_edge_caches

    outer_cache, inner_cache = {}, {}

    def build_outer():
        base = _pinned(
            inner_cache, spark, "dirN", lambda: spark.range(10).toDF("n")
        )
        return base.filter("n < 5")

    out = _pinned(outer_cache, spark, "dirN", build_outer)
    assert out.count() == 5
    assert len(outer_cache) == 1 and len(inner_cache) == 1
    for c in (outer_cache, inner_cache):
        for df in c.values():
            joins._release_pin(df)


def test_pinned_cache_uri_key_not_realpathed(spark, monkeypatch):
    """A scheme URI (s3a://...) must not go through os.path.realpath —
    that would prefix the cwd and make the SAME remote path key
    differently from two driver cwds (round-8 review finding)."""
    from cascading_hbase_spark.queries.joins import _pin_key

    k1 = _pin_key(spark, "s3a://bucket/sf1")
    k2 = _pin_key(spark, "s3a://bucket/sf1/")
    assert k1 == k2
    assert k1[1] == "s3a://bucket/sf1"  # untouched, cwd-independent
    monkeypatch.chdir("/tmp")
    assert _pin_key(spark, "s3a://bucket/sf1") == k1


def test_pinned_cache_hit_not_blocked_by_other_build(spark):
    """A cache HIT must return while another key's build is mid-job —
    the lock is held only around dict access, never across build()
    (round-8 review finding: jobs under the global lock would
    serialize all pin traffic behind the slowest build)."""
    import threading
    import time

    from cascading_hbase_spark.queries import joins
    from cascading_hbase_spark.queries.joins import _pinned

    warm_cache, cold_cache = {}, {}
    warm = _pinned(warm_cache, spark, "dirW", lambda: spark.range(5).toDF("n"))

    release = threading.Event()
    started = threading.Event()

    def slow_build():
        started.set()
        release.wait(timeout=30)
        return spark.range(7).toDF("n")

    t = threading.Thread(
        target=lambda: _pinned(cold_cache, spark, "dirS", slow_build)
    )
    t.start()
    assert started.wait(timeout=10)
    t0 = time.time()
    hit = _pinned(warm_cache, spark, "dirW", lambda: spark.range(9).toDF("n"))
    elapsed = time.time() - t0
    release.set()
    t.join(timeout=30)
    assert hit is warm
    assert elapsed < 5, f"cache hit blocked {elapsed:.1f}s behind a build"
    for c in (warm_cache, cold_cache):
        for df in c.values():
            joins._release_pin(df)
