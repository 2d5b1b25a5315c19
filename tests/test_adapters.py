"""KeyedStoreAdapter contract suite: every registered implementation
must reproduce the reference connector's semantics (upsert-LWW, pruned
[start, stop) range scans with key-included projection, point
multi-Get, no-op-on-absent deletes, KEEP/APPEND/REPLACE sink modes,
always-stale cascade scheduling).  Runs against the engine-backed
adapter AND the in-memory contract double — a divergence in either
direction fails here, which is exactly what an external-store port
gets to lean on."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cascading_hbase_spark.keyed.adapters import (
    LocalKeyedStoreAdapter,
    MemoryKeyedStoreAdapter,
    adapter_scan_filtered,
)
from cascading_hbase_spark.keyed.table import SinkMode
from cascading_hbase_spark.operators.taps import AdapterTap

# The reference's own fixture shape: 13 tuples, 5 distinct keys
# (src/test/data/small.txt via MultiFamilyHBaseTest.java:57,71) —
# the stored table must hold 5 rows with the LAST write per key.
THIRTEEN = [
    (1, "a1"), (2, "b1"), (3, "c1"), (1, "a2"), (4, "d1"),
    (2, "b2"), (5, "e1"), (3, "c2"), (1, "a3"), (4, "d2"),
    (5, "e2"), (2, "b3"), (1, "a4"),
]
FINAL = {1: "a4", 2: "b3", 3: "c2", 4: "d2", 5: "e2"}


@pytest.fixture(params=["local", "memory"])
def adapter(request, tmp_path):
    if request.param == "local":
        return LocalKeyedStoreAdapter(str(tmp_path / "store"), "key")
    return MemoryKeyedStoreAdapter("key")


def _df(spark, rows):
    return spark.createDataFrame(rows, "key long, val string")


def _stored(adapter, spark):
    return {r.key: r.val for r in adapter.scan(spark).collect()}


def test_thirteen_rows_five_keys_last_write_wins(spark, adapter):
    """The reference's headline semantic, across two upsert batches."""
    adapter.upsert(_df(spark, THIRTEEN[:7]))
    adapter.upsert(_df(spark, THIRTEEN[7:]))
    assert _stored(adapter, spark) == FINAL


# In-batch ties: for every key the LAST-arriving row is NOT its
# content-max row, and key 3's last row is null — so a store that keeps
# arrival order and one that keeps the highest non-key tuple (nulls
# lowest) store different tables.
TIES = [
    (1, "a9"), (2, "b1"), (1, "a2"), (3, None), (2, "b7"),
    (3, "c5"), (1, "a5"), (2, "b3"), (3, None),
]
CONTENT_MAX = {1: "a9", 2: "b7", 3: "c5"}


def test_in_batch_ties_keep_content_max_row(spark, adapter):
    """Within one upsert a key keeps its highest non-key tuple, not its
    last-arriving row; a later upsert still wins over an earlier one,
    whatever its content (null included)."""
    adapter.upsert(_df(spark, TIES))
    assert _stored(adapter, spark) == CONTENT_MAX
    adapter.upsert(_df(spark, [(1, "a0"), (3, None)]))
    assert _stored(adapter, spark) == {1: "a0", 2: "b7", 3: None}


def test_in_batch_ties_ignore_order_and_partitioning(spark, adapter, tmp_path):
    """The same batch permuted, repartitioned or read back from several
    parquet files stores the same table, whether it creates the table
    or merges into an existing one (alternately)."""
    import random

    rev = list(reversed(TIES))
    perm = TIES[:]
    random.Random(7).shuffle(perm)
    _df(spark, perm).repartition(3).write.parquet(str(tmp_path / "files"))
    batches = [
        _df(spark, perm).repartition(4),
        _df(spark, rev).repartition(2, "val"),
        spark.read.parquet(str(tmp_path / "files")),
    ]
    for i, batch in enumerate(batches):
        adapter.drop()
        want = dict(CONTENT_MAX)
        if i % 2:
            adapter.upsert(_df(spark, [(1, "zz"), (4, "d1")]))
            want[4] = "d1"
        adapter.upsert(batch)
        assert _stored(adapter, spark) == want, i


def test_range_scan_half_open_and_projection(spark, adapter):
    adapter.upsert(_df(spark, THIRTEEN))
    got = adapter.scan(spark, start=2, stop=4)
    assert {r.key for r in got.collect()} == {2, 3}  # [2, 4)
    proj = adapter.scan(spark, fields=["val"])
    # the key column is always included (HBaseScheme.java:157-162)
    assert set(proj.columns) == {"key", "val"}


def test_point_get_and_delete(spark, adapter):
    adapter.upsert(_df(spark, THIRTEEN))
    got = {r.key: r.val for r in adapter.get(spark, [1, 5, 99]).collect()}
    assert got == {1: FINAL[1], 5: FINAL[5]}  # absent key: no row
    adapter.delete(spark, [1, 99])  # absent key: no error
    assert set(_stored(adapter, spark)) == {2, 3, 4, 5}
    # an EMPTY key set is a legal input on both paths (a computed key
    # set can be empty): get -> empty result, delete -> no-op — pinned
    # because the two implementations diverged here (r09 review)
    assert adapter.get(spark, []).count() == 0
    adapter.delete(spark, [])
    assert set(_stored(adapter, spark)) == {2, 3, 4, 5}


def test_lifecycle(spark, adapter):
    assert not adapter.exists()
    adapter.create(_df(spark, THIRTEEN[:5]))
    assert adapter.exists()
    with pytest.raises(FileExistsError):
        adapter.create(_df(spark, THIRTEEN[:2]))
    adapter.drop()
    assert not adapter.exists()
    adapter.drop()  # no-op on absent store


def test_residual_predicate_composition(spark, adapter):
    adapter.upsert(_df(spark, THIRTEEN))
    got = adapter_scan_filtered(
        adapter, spark, start=1, stop=5, predicate="val like '%2'"
    )
    assert {r.key for r in got.collect()} == {3, 4}


def test_adapter_tap_sink_modes(spark, adapter):
    tap = AdapterTap(adapter, name="contract")
    tap.write(_df(spark, THIRTEEN[:7]), SinkMode.KEEP)
    with pytest.raises(FileExistsError):
        tap.write(_df(spark, THIRTEEN), SinkMode.KEEP)
    tap.write(_df(spark, THIRTEEN[7:]), SinkMode.APPEND)
    assert _stored(adapter, spark) == FINAL
    tap.write(_df(spark, [(9, "z")]), SinkMode.REPLACE)
    assert _stored(adapter, spark) == {9: "z"}
    assert tap.always_stale_sink
    assert tap.modified_time() <= tap.modified_time()  # monotone 'now'
    assert tap.uri().startswith("adapter://")


def test_adapter_tap_in_cascade_always_reruns(spark, adapter, tmp_path):
    """A flow sinking into an AdapterTap re-runs on every cascade pass
    (HBaseTap.java:65-67,103-105) — the upsert accumulates."""
    from cascading_hbase_spark.operators.pipe import Pipe
    from cascading_hbase_spark.operators.taps import ParquetTap
    from cascading_hbase_spark.plans.cascade import Cascade, Flow

    src = ParquetTap(str(tmp_path / "src"))
    src.write(_df(spark, THIRTEEN[:7]), SinkMode.REPLACE)
    sink = AdapterTap(adapter, name="cascade-sink")
    flow = Flow(
        {"source": src}, sink, Pipe("source"),
        sink_mode=SinkMode.APPEND, name="into-store",
    )
    c = Cascade([flow])
    c.complete(spark)
    first = _stored(adapter, spark)
    src.write(_df(spark, THIRTEEN[7:]), SinkMode.REPLACE)
    c.complete(spark)  # keyed sink is never up-to-date -> flow re-runs
    assert _stored(adapter, spark) == FINAL
    assert first != FINAL


def test_pathless_adapter_fallback_uris_never_collide(spark):
    """Two pathless adapters whose lifetimes do NOT overlap must still
    get distinct fallback uris: CPython reuses id() after GC, so an
    id()-based fallback could cross-link unrelated flows in any
    uri()-keyed registry that outlives the first tap (r09 ADVICE; the
    fallback is now a process-monotonic counter)."""
    import gc

    seen = set()
    for _ in range(5):
        a = MemoryKeyedStoreAdapter("key")
        uri = AdapterTap(a).uri()
        assert uri not in seen, uri
        seen.add(uri)
        del a
        gc.collect()  # make id() reuse likely; the counter must not care
    # two taps over the SAME adapter share identity — the cascade
    # scheduler's producer/consumer edge depends on it (r10 review)
    shared = MemoryKeyedStoreAdapter("key")
    assert AdapterTap(shared).uri() == AdapterTap(shared).uri()
    # explicit names and path-carrying adapters keep their identity
    assert AdapterTap(MemoryKeyedStoreAdapter("key"), name="n").uri() == (
        "adapter://n"
    )


def test_slotted_pathless_adapter_keeps_stable_shared_identity():
    """A ``__slots__`` pathless adapter cannot carry the cached uri
    token; the fallback must still be (a) SHARED by two taps over the
    same adapter — the cascade scheduler's producer/consumer edge
    depends on their uris matching — and (b) never recycled: the
    adapter is pinned module-side so a dead adapter's id() can never
    be minted into a different adapter's uri (r10 ADVICE; the old
    behavior silently minted a fresh uri per tap)."""
    import gc

    from cascading_hbase_spark.operators.taps import (
        _SLOTTED_PINS,
        _SLOTTED_PINS_STRONG,
        AdapterTap,
    )

    class Slotted(MemoryKeyedStoreAdapter):
        __slots__ = ()  # no __dict__, no __weakref__ of its own

    # MemoryKeyedStoreAdapter may define __dict__ upstream; build a
    # truly slotted stand-in if setattr still works on the subclass
    probe = Slotted("key")
    try:
        probe._chs_probe = 1
        slotted_cls = None  # upstream has __dict__; synthesize instead
    except AttributeError:
        slotted_cls = Slotted
    if slotted_cls is None:
        class Bare:
            __slots__ = ("key",)

            def __init__(self):
                self.key = "key"

            def exists(self):
                return False

        slotted_cls = Bare

    a = slotted_cls() if slotted_cls is not Slotted else Slotted("key")
    t1, t2 = AdapterTap(a), AdapterTap(a)
    assert t1.uri() == t2.uri()
    assert t1.uri().startswith("adapter://adapter-slotted-")
    # the adapter is pinned: GC cannot recycle its id into a new one
    pinned = (a in _SLOTTED_PINS) or (a in _SLOTTED_PINS_STRONG)
    assert pinned
    ref = id(a)
    del a, t1, t2
    gc.collect()
    # a strong pin keeps the adapter alive, so its id (hence its uri)
    # can never be recycled into a different adapter; a weak pin dies
    # WITH the adapter, at which point no live object can collide
    if any(id(x) == ref for x in _SLOTTED_PINS_STRONG):
        b = slotted_cls() if slotted_cls is not Slotted else Slotted("key")
        assert id(b) != ref
    # distinct live objects -> distinct uris
    b = slotted_cls() if slotted_cls is not Slotted else Slotted("key")
    c = slotted_cls() if slotted_cls is not Slotted else Slotted("key")
    assert AdapterTap(b).uri() != AdapterTap(c).uri()
