"""The object-store control plane: conditional-PUT commit protocol,
TTL writer lease, and the rename-free (direct-to-final) data commit —
the cloud port of the seam, race-tested against the emulated store."""

from __future__ import annotations

import json
import os
import threading

import pytest

from cascading_hbase_spark.keyed import table as kt
from cascading_hbase_spark.keyed.controlplane import (
    ConcurrentWriteError,
    use_control_plane,
)
from cascading_hbase_spark.keyed.objectstore import (
    EmulatedObjectStore,
    ObjectStoreControlPlane,
    PreconditionFailed,
)
from cascading_hbase_spark.keyed.table import (
    SinkMode,
    changefeed_keyed,
    compact_keyed,
    describe_keyed,
    read_keyed,
    vacuum_keyed,
    write_keyed,
)


class FakeClock:
    def __init__(self):
        self.t = 1000.0

    def __call__(self):
        return self.t


def _df(spark, rows):
    return spark.createDataFrame(rows, "key long, val string")


# ---------------------------------------------------------------------------
# store primitives
# ---------------------------------------------------------------------------


def test_store_conditional_put_semantics():
    s = EmulatedObjectStore()
    e1 = s.put("k", b"a", if_none_match=True)
    with pytest.raises(PreconditionFailed):
        s.put("k", b"b", if_none_match=True)
    with pytest.raises(PreconditionFailed):
        s.put("k", b"b", if_match="etag-nope")
    e2 = s.put("k", b"b", if_match=e1)
    assert e2 != e1
    assert s.get("k") == (b"b", e2)
    # conditional delete: wrong version refuses, right version deletes
    with pytest.raises(PreconditionFailed):
        s.delete("k", if_match=e1)
    s.delete("k", if_match=e2)
    assert s.head("k") is None
    s.delete("k", if_match=e2)  # absent + if_match: no-op, version is gone
    # if_match on an absent key fails (nothing to swap against)
    with pytest.raises(PreconditionFailed):
        s.put("gone", b"x", if_match=e2)


def test_store_listing_and_no_rename():
    s = EmulatedObjectStore()
    s.put("t/a/x.parquet", b"1")
    s.put("t/a/y.parquet", b"2")
    s.put("t/b.json", b"3")
    assert s.child_names("t") == ["a", "b.json"]
    assert s.list_keys("t/a/") == ["t/a/x.parquet", "t/a/y.parquet"]
    # the store deliberately has no rename/move primitive — the plane
    # must work with copy+delete and direct-to-final writes only
    assert not hasattr(s, "rename")
    assert not hasattr(s, "move")


# ---------------------------------------------------------------------------
# commit protocol: versioned object + pointer flip
# ---------------------------------------------------------------------------


def test_manifest_roundtrip_and_missing_key():
    cp = ObjectStoreControlPlane()
    with pytest.raises(FileNotFoundError):
        cp.read_json("/t/_kt_meta.json")
    cp.write_json_atomic("/t/_kt_meta.json", {"version": 1})
    assert cp.read_json("/t/_kt_meta.json") == {"version": 1}
    assert cp.object_exists("/t/_kt_meta.json")
    cp.write_json_atomic("/t/_kt_meta.json", {"version": 2})
    assert cp.read_json("/t/_kt_meta.json") == {"version": 2}
    cp.delete_quiet("/t/_kt_meta.json")
    assert not cp.object_exists("/t/_kt_meta.json")
    assert cp.store.list_keys("/t/") == []  # versioned objects gone too


def test_prune_spares_newer_inflight_commit():
    """A commit that begins AFTER the winner's pointer flip (reads the
    fresh pointer, PUTs its v+2 object) must survive the winner's
    prune: its CAS against the flipped pointer WILL succeed, so
    deleting it would leave the pointer naming a deleted object and
    the table unreadable (r09 review finding — the prune may only
    touch versions <= the winner's own)."""
    store = EmulatedObjectStore()
    a = ObjectStoreControlPlane(store, holder="a")
    key = "/t/_kt_meta.json"
    a.write_json_atomic(key, {"by": "init"})
    orig_list = store.list_keys
    b_state: dict = {}

    def list_with_late_committer(prefix):
        # interleave: B's first half runs between A's flip and A's
        # prune (list_keys is only called by the prune step)
        if "vkey" not in b_state:
            pdata, petag = store.get(key)
            p = json.loads(pdata)
            vkey = f"{key}.v{p['v'] + 1}-bbbbbbbbbbbb"
            store.put(
                vkey, json.dumps({"by": "b"}).encode(), if_none_match=True
            )
            b_state.update(vkey=vkey, petag=petag, v=p["v"])
        return orig_list(prefix)

    store.list_keys = list_with_late_committer
    a.write_json_atomic(key, {"by": "a"})  # prune runs with B in flight
    store.list_keys = orig_list
    # B's in-flight object survived A's prune ...
    assert store.head(b_state["vkey"]) is not None
    # ... so B's CAS against the pointer A installed succeeds and the
    # document chain stays readable end-to-end
    pointer = json.dumps(
        {"v": b_state["v"] + 1, "object": b_state["vkey"]}
    ).encode()
    store.put(key, pointer, if_match=b_state["petag"])
    assert a.read_json(key) == {"by": "b"}
    # and the next commit's prune clears B's predecessors normally
    a.write_json_atomic(key, {"by": "a2"})
    assert a.read_json(key) == {"by": "a2"}


def test_move_control_document_survives_source_reuse():
    """move_object on a control key must move the DOCUMENT, not the
    latest-pointer bytes: a verbatim pointer copy leaves dst naming a
    src-named versioned object that src's next write or delete prunes
    away (r09 review finding)."""
    cp = ObjectStoreControlPlane()
    src, dst = "/t/a.json", "/t/b.json"
    cp.write_json_atomic(src, {"doc": "payload"})
    cp.move_object(src, dst)
    assert cp.read_json(dst) == {"doc": "payload"}
    assert not cp.object_exists(src)
    # reuse of the source key (fresh writes, prune, delete) must not
    # destroy the moved document
    cp.write_json_atomic(src, {"doc": "new"})
    cp.write_json_atomic(src, {"doc": "newer"})
    cp.delete_quiet(src)
    assert cp.read_json(dst) == {"doc": "payload"}


def test_pointer_flip_loser_raises():
    """The commit race, deterministically: committer b reads the
    pointer, a commits in the gap, b's conditional flip against its
    stale ETag MUST fail with ConcurrentWriteError — and the winner's
    document survives untouched."""
    store = EmulatedObjectStore()
    a = ObjectStoreControlPlane(store, holder="a")
    b = ObjectStoreControlPlane(store, holder="b")
    key = "/t/_kt_meta.json"
    a.write_json_atomic(key, {"by": "init"})
    stale = store.get(key)  # <- b's read of the pointer happens HERE
    a.write_json_atomic(key, {"by": "a"})  # a commits in b's gap
    orig_get = store.get

    def stale_once(k):
        if k == key:
            store.get = orig_get
            return stale
        return orig_get(k)

    store.get = stale_once
    with pytest.raises(ConcurrentWriteError):
        b.write_json_atomic(key, {"by": "b"})
    assert a.read_json(key) == {"by": "a"}
    # b's orphaned versioned object must not shadow future commits
    a.write_json_atomic(key, {"by": "a2"})
    assert a.read_json(key) == {"by": "a2"}


def test_pointer_flip_threaded_never_torn():
    """Two committers racing with real threads: every successful commit
    bumps the pointer version by exactly one, the losing side (if any)
    sees ConcurrentWriteError, and the final document is the last
    winner's — never a torn or lost state."""
    for _ in range(20):
        store = EmulatedObjectStore()
        key = "/t/_kt_meta.json"
        ObjectStoreControlPlane(store, holder="init").write_json_atomic(
            key, {"by": "init"}
        )
        barrier = threading.Barrier(2)
        ok: list[str] = []
        lost: list[str] = []

        def commit(name):
            cp = ObjectStoreControlPlane(store, holder=name)
            barrier.wait()
            try:
                cp.write_json_atomic(key, {"by": name})
                ok.append(name)
            except ConcurrentWriteError:
                lost.append(name)

        ts = [threading.Thread(target=commit, args=(n,)) for n in ("a", "b")]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert len(ok) >= 1 and len(ok) + len(lost) == 2
        pointer = json.loads(store.get(key)[0])
        # versions: 1 (init) + one per successful commit, no gaps/dups
        assert pointer["v"] == 1 + len(ok)
        final = json.loads(store.get(pointer["object"])[0])
        assert final["by"] in ok


def test_reader_survives_one_concurrent_commit():
    """A reader that loaded the pointer just before a flip can still
    GET its versioned object (current + previous are retained)."""
    cp = ObjectStoreControlPlane()
    key = "/t/_kt_meta.json"
    cp.write_json_atomic(key, {"version": 1})
    # simulate the reader's first half: load the pointer
    pdata, _ = cp.store.get(key)
    vkey = json.loads(pdata)["object"]
    cp.write_json_atomic(key, {"version": 2})
    data, _ = cp.store.get(vkey)  # still there
    assert json.loads(data) == {"version": 1}
    # two commits later it is pruned
    cp.write_json_atomic(key, {"version": 3})
    with pytest.raises(KeyError):
        cp.store.get(vkey)


# ---------------------------------------------------------------------------
# writer lease
# ---------------------------------------------------------------------------


def test_lease_excludes_live_holder_and_expires():
    clock = FakeClock()
    store = EmulatedObjectStore(time_fn=clock)
    a = ObjectStoreControlPlane(store, holder="a", lease_ttl=60)
    b = ObjectStoreControlPlane(store, holder="b", lease_ttl=60)
    lease_a = a.writer_lease("/t")
    lease_a.__enter__()
    with pytest.raises(ConcurrentWriteError):
        with b.writer_lease("/t"):
            pass
    # the holder crashes (never exits); after TTL the lease is dead
    clock.t += 61
    with b.writer_lease("/t"):
        # a's stale release is a conditional DELETE on a's old ETag —
        # it must quietly NOT delete b's live lease
        lease_a.__exit__(None, None, None)
        assert json.loads(store.get("/t__kt_lease.json")[0])["holder"] == "b"
    # released cleanly -> reacquirable
    with a.writer_lease("/t"):
        pass


def test_expired_lease_reclaim_exactly_one_winner():
    for _ in range(20):
        clock = FakeClock()
        store = EmulatedObjectStore(time_fn=clock)
        dead = ObjectStoreControlPlane(store, holder="dead", lease_ttl=10)
        dead_cm = dead.writer_lease("/t")  # keep a ref: a dropped
        dead_cm.__enter__()  # generator would run finally and release
        clock.t += 11
        barrier = threading.Barrier(2)
        got: list[str] = []
        errs: list[str] = []
        held: list = []

        def contend(name):
            # the winner HOLDS the lease (no release), so the loser is
            # guaranteed to observe a live lease whatever the thread
            # interleaving — exactly-one is the only passing outcome
            cp = ObjectStoreControlPlane(store, holder=name, lease_ttl=10)
            barrier.wait()
            try:
                cm = cp.writer_lease("/t")
                cm.__enter__()
                held.append(cm)  # keep the generator alive = keep holding
                got.append(name)
            except ConcurrentWriteError:
                errs.append(name)

        ts = [threading.Thread(target=contend, args=(n,)) for n in ("x", "y")]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        # exactly one contender reclaimed; with the winner's lease live
        # the loser's CAS (or late exclusive PUT) must have failed —
        # never two writers inside the lease
        assert len(got) == 1 and len(errs) == 1, (got, errs)


def test_commit_outrunning_lease_refuses_to_flip():
    """A commit that outruns lease_ttl must NOT flip the manifest after
    a contender reclaimed the lease: the pointer CAS alone protects the
    manifest but not the shared generation data keys, so the slow
    writer's flip could expose a mix of both writers' files (r09
    ADVICE).  write_json_atomic re-verifies lease ownership just before
    the flip and refuses, deleting its own versioned orphan."""
    clock = FakeClock()
    store = EmulatedObjectStore(time_fn=clock)
    slow = ObjectStoreControlPlane(store, holder="slow", lease_ttl=10)
    fast = ObjectStoreControlPlane(store, holder="fast", lease_ttl=10)
    mkey = "/t/_kt_meta.json"
    with pytest.raises(ConcurrentWriteError, match="reclaimed mid-commit"):
        with slow.writer_lease("/t"):
            clock.t += 11  # the slow commit outruns its TTL...
            with fast.writer_lease("/t"):  # ...and a contender reclaims
                fast.write_json_atomic(mkey, {"version": 1, "who": "fast"})
            # the reclaimed writer must refuse the flip
            slow.write_json_atomic(mkey, {"version": 1, "who": "slow"})
    # the winner's manifest is intact and no orphan version objects
    # from the loser survive
    assert slow.read_json(mkey)["who"] == "fast"
    vkeys = store.list_keys(mkey + ".v")
    assert all(
        json.loads(store.get(k)[0])["who"] == "fast" for k in vkeys
    ), vkeys
    # a lease held for table A must not veto a commit to table B
    with slow.writer_lease("/t"):
        slow.write_json_atomic("/other/_kt_meta.json", {"version": 1})
    assert slow.read_json("/other/_kt_meta.json") == {"version": 1}


def test_lease_release_unblocks_exclusion():
    cp = ObjectStoreControlPlane()
    with cp.writer_lease("/t"):
        with pytest.raises(ConcurrentWriteError):
            with cp.writer_lease("/t"):
                pass
    with cp.writer_lease("/t"):
        pass


# ---------------------------------------------------------------------------
# the engine on the plane: rename-free lifecycle
# ---------------------------------------------------------------------------


def _assert_no_control_files_on_fs(root):
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in filenames:
            assert not f.endswith(".json"), os.path.join(dirpath, f)


def test_keyed_lifecycle_on_object_store_plane(spark, tmp_path):
    """Full lifecycle under the object-store plane: every data file is
    written direct-to-final (the plane has no rename primitive), every
    control document lives in the store (no .json ever on the local
    FS), and LWW / time travel / changefeed / compaction / vacuum /
    REPLACE all behave exactly as on the default plane."""
    path = str(tmp_path / "t")
    cp = ObjectStoreControlPlane()
    with use_control_plane(cp):
        write_keyed(_df(spark, [(1, "a"), (2, "b")]), path, "key", retain=5)
        write_keyed(
            _df(spark, [(2, "B"), (3, "c")]), path, "key",
            mode=SinkMode.APPEND,
        )
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
        assert got == {(1, "a"), (2, "B"), (3, "c")}
        old = {(r.key, r.val) for r in read_keyed(spark, path, generation=1).collect()}
        assert old == {(1, "a"), (2, "b")}
        feed = {
            (r.key, r._change) for r in changefeed_keyed(spark, path, 1).collect()
        }
        assert feed == {(2, "update"), (3, "insert")}
        assert describe_keyed(spark, path).count() >= 1
        compact_keyed(spark, path)
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
        assert got == {(1, "a"), (2, "B"), (3, "c")}
        vacuum_keyed(path, retain=1)
        with pytest.raises(FileNotFoundError):
            read_keyed(spark, path, generation=1).collect()
        write_keyed(_df(spark, [(9, "z")]), path, "key", mode=SinkMode.REPLACE)
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
        assert got == {(9, "z")}
        _assert_no_control_files_on_fs(str(tmp_path))
        # and the store holds the control documents
        assert cp.object_exists(os.path.join(path, "_kt_meta.json"))


def test_direct_commit_delete_empties_table(spark, tmp_path):
    """A delete that empties every affected bucket commits a PROVABLY
    empty frame: the optimizer eliminates the CollectMetrics node, so
    written-bucket detection must fall back to probing the pre-cleared
    candidate dirs instead of raising from obs.get (explore-fuzz
    falsifier under the plane, r09)."""
    from cascading_hbase_spark.keyed.table import delete_keyed

    path = str(tmp_path / "t")
    with use_control_plane(ObjectStoreControlPlane()):
        write_keyed(_df(spark, [(1, "a"), (2, "b")]), path, "key")
        keys = spark.createDataFrame([(1,), (2,)], "key long")
        delete_keyed(spark, path, keys)
        assert read_keyed(spark, path).count() == 0
        # and the emptied table keeps committing normally
        write_keyed(_df(spark, [(3, "c")]), path, "key", mode=SinkMode.APPEND)
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
        assert got == {(3, "c")}


def test_direct_commit_rebucket_grow_and_shrink(spark, tmp_path):
    """Re-bucketing compaction under the rename-free plane, both ways:
    growing routes rows into bucket ids that never held a pointer
    (they must get orphan-probed and committed), shrinking leaves old
    pointer ids beyond the new bucket domain (they must be dropped,
    not orphan-probed — probing them was a KeyError in the first
    draft, r09 review follow-up)."""
    path = str(tmp_path / "t")
    rows = [(i, f"v{i}") for i in range(60)]
    with use_control_plane(ObjectStoreControlPlane()):
        write_keyed(_df(spark, rows), path, "key", n_buckets=2)
        compact_keyed(spark, path, n_buckets=8)  # grow
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
        assert got == set(rows)
        compact_keyed(spark, path, n_buckets=1)  # shrink
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
        assert got == set(rows)
        # and the shrunk table keeps committing normally
        write_keyed(_df(spark, [(1, "A")]), path, "key", mode=SinkMode.APPEND)
        assert dict(read_keyed(spark, path).collect())[1] == "A"


def test_direct_commit_point_lookup_and_range(spark, tmp_path):
    """Bucket-pruned reads (range scan, multi-Get) work identically on
    the object-store plane — same dirs, same manifest pointers."""
    from cascading_hbase_spark.keyed.table import get_keyed

    path = str(tmp_path / "t")
    with use_control_plane(ObjectStoreControlPlane()):
        write_keyed(
            _df(spark, [(i, f"v{i}") for i in range(100)]),
            path, "key", n_buckets=8,
        )
        rows = read_keyed(spark, path, start=10, stop=20).collect()
        assert sorted(r.key for r in rows) == list(range(10, 20))
        got = get_keyed(spark, path, [5, 42, 999])
        assert {(r.key, r.val) for r in got.collect()} == {(5, "v5"), (42, "v42")}


def test_direct_commit_crash_leaves_previous_snapshot(spark, tmp_path, monkeypatch):
    """A crash AFTER the data files land but BEFORE the manifest flip:
    the table still reads the previous snapshot (new files are
    unreferenced orphans), and a retried append succeeds after
    clearing them."""
    path = str(tmp_path / "t")
    with use_control_plane(ObjectStoreControlPlane()):
        write_keyed(_df(spark, [(1, "a"), (2, "b")]), path, "key")

        real = kt._commit_manifest

        def boom(*a, **k):
            raise RuntimeError("crash before manifest flip")

        monkeypatch.setattr(kt, "_commit_manifest", boom)
        with pytest.raises(RuntimeError, match="crash before"):
            write_keyed(
                _df(spark, [(3, "c")]), path, "key", mode=SinkMode.APPEND
            )
        monkeypatch.setattr(kt, "_commit_manifest", real)
        # previous snapshot intact, orphan invisible
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
        assert got == {(1, "a"), (2, "b")}
        # retry succeeds (recomputes the same generation numbers and
        # clears the orphan dirs before writing)
        write_keyed(_df(spark, [(3, "c")]), path, "key", mode=SinkMode.APPEND)
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
        assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_secondary_index_on_object_store_plane(spark, tmp_path):
    """Ancillary keyed structures (the equality index is itself a keyed
    table) build and serve lookups through the same plane."""
    from cascading_hbase_spark.keyed.index import create_index, index_lookup

    path = str(tmp_path / "t")
    with use_control_plane(ObjectStoreControlPlane()):
        write_keyed(
            _df(spark, [(1, "x"), (2, "y"), (3, "x")]), path, "key"
        )
        create_index(spark, path, "val")
        got = {r.key for r in index_lookup(spark, path, "val", "x").collect()}
        assert got == {1, 3}


def test_file_backed_store_conditional_semantics(tmp_path):
    """r12: the FILE-BACKED store honors the same conditional-PUT /
    CAS / conditional-DELETE contract as the in-memory emulation — and
    a SECOND instance over the same root (standing in for another
    process, e.g. the changefeed source's planning worker) observes
    every mutation immediately."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.objectstore import (
        FileBackedObjectStore, PreconditionFailed,
    )

    root = str(tmp_path / "store")
    a = FileBackedObjectStore(root)
    b = FileBackedObjectStore(root)  # fresh instance = other process
    e1 = a.put("/t/x.json", b"one", if_none_match=True)
    with _pytest.raises(PreconditionFailed):
        b.put("/t/x.json", b"two", if_none_match=True)
    assert b.get("/t/x.json") == (b"one", e1)
    e2 = b.put("/t/x.json", b"two", if_match=e1)
    with _pytest.raises(PreconditionFailed):
        a.put("/t/x.json", b"three", if_match=e1)  # stale CAS loses
    assert a.head("/t/x.json") == e2 and a.size("/t/x.json") == 3
    with _pytest.raises(PreconditionFailed):
        a.delete("/t/x.json", if_match=e1)
    a.put("/t/sub/y.json", b"yy", if_none_match=True)
    assert b.list_keys("/t/") == ["/t/sub/y.json", "/t/x.json"]
    assert b.child_names("/t") == ["sub", "x.json"]
    b.delete("/t/x.json", if_match=e2)
    b.delete("/t/x.json")  # idempotent
    assert a.head("/t/x.json") is None
    e3 = a.copy("/t/sub/y.json", "/t/z.json")
    assert b.get("/t/z.json") == (b"yy", e3)


def test_plane_spec_roundtrip_and_refusals(tmp_path):
    """r12 cross-process seam: plane_spec -> plane_from_spec rebuilds
    an equivalent plane (localfs and file-backed objectstore); the
    in-memory emulation returns None and read_changefeed_stream
    refuses it instead of silently reading local paths."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.controlplane import (
        LocalFSControlPlane, plane_from_spec, use_control_plane,
    )
    from cascading_hbase_spark.keyed.objectstore import (
        EmulatedObjectStore, FileBackedObjectStore, ObjectStoreControlPlane,
    )

    assert LocalFSControlPlane().plane_spec() == {"kind": "localfs"}
    assert isinstance(
        plane_from_spec({"kind": "localfs"}), LocalFSControlPlane
    )
    root = str(tmp_path / "s")
    cp = ObjectStoreControlPlane(FileBackedObjectStore(root))
    spec = cp.plane_spec()
    assert spec == {"kind": "objectstore", "root": root}
    cp2 = plane_from_spec(spec)
    cp.write_json_atomic("/t/_kt_meta.json", {"v": 7})
    assert cp2.read_json("/t/_kt_meta.json") == {"v": 7}  # shared root
    assert ObjectStoreControlPlane(EmulatedObjectStore()).plane_spec() is None
    with _pytest.raises(ValueError, match="unknown control-plane"):
        plane_from_spec({"kind": "martian"})
    # the stream constructor refuses a process-local plane up front
    with use_control_plane(ObjectStoreControlPlane(EmulatedObjectStore())):
        from cascading_hbase_spark.streaming.ops import (
            read_changefeed_stream,
        )

        cp3 = ObjectStoreControlPlane(EmulatedObjectStore())
        with _pytest.raises(RuntimeError, match="process-local"):
            # table existence is probed through the plane first; give
            # it a manifest so the refusal under test is reached
            from cascading_hbase_spark.keyed.controlplane import (
                get_control_plane,
            )

            get_control_plane().write_json_atomic(
                str(tmp_path / "t" / "_kt_meta.json"), {"version": 1}
            )
            read_changefeed_stream(None, str(tmp_path / "t"))
