"""The control-plane seam: every driver-side metadata/commit operation
of the keyed engine must route through ``keyed.controlplane`` (the
object-store port surface), and swapping an instrumented implementation
must not change engine behavior."""

from __future__ import annotations

import json
import os as _os

import pyspark.sql.functions as F
import pytest

# The legacy flat-bucket layout is a LOCAL-FS artifact by definition
# (a literal _kt_meta.json + flat files on disk predating generations);
# under the object-store plane no table can exist in that form, so the
# migration scenario is plane-inapplicable — same rationale as
# tests/test_keyed_table.py's localfs_plane_only group.
localfs_plane_only = pytest.mark.skipif(
    _os.environ.get("KT_PLANE") == "objectstore",
    reason="pre-generation legacy layout is a local-FS-only artifact; "
    "the generation lifecycle itself is covered on the plane in "
    "test_objectstore.py",
)

from cascading_hbase_spark.keyed.controlplane import (
    ConcurrentWriteError,
    ControlPlane,
    LocalFSControlPlane,
    get_control_plane,
    set_control_plane,
    use_control_plane,
)
from cascading_hbase_spark.keyed.table import (
    KeyedTable,
    SinkMode,
    describe_keyed,
    read_keyed,
    vacuum_keyed,
    write_keyed,
)


class RecordingControlPlane(ControlPlane):
    """Delegates everything to a LocalFSControlPlane while counting
    calls per method — proof the engine actually goes through the seam
    (a direct ``os.*`` call for a covered operation would simply not
    show up here, and the routing asserts below would fail)."""

    def __init__(self):
        self.inner = LocalFSControlPlane()
        self.calls: dict[str, int] = {}

    def _rec(self, name):
        self.calls[name] = self.calls.get(name, 0) + 1

    def read_json(self, key):
        self._rec("read_json")
        return self.inner.read_json(key)

    def write_json_atomic(self, key, obj):
        self._rec("write_json_atomic")
        self.inner.write_json_atomic(key, obj)

    def object_exists(self, key):
        self._rec("object_exists")
        return self.inner.object_exists(key)

    def delete_quiet(self, key):
        self._rec("delete_quiet")
        self.inner.delete_quiet(key)

    def object_size(self, key):
        self._rec("object_size")
        return self.inner.object_size(key)

    def list_names(self, prefix):
        self._rec("list_names")
        return self.inner.list_names(prefix)

    def dir_exists(self, prefix):
        self._rec("dir_exists")
        return self.inner.dir_exists(prefix)

    def ensure_dir(self, prefix):
        self._rec("ensure_dir")
        self.inner.ensure_dir(prefix)

    def delete_tree_quiet(self, prefix):
        self._rec("delete_tree_quiet")
        self.inner.delete_tree_quiet(prefix)

    def move_object(self, src, dst):
        self._rec("move_object")
        self.inner.move_object(src, dst)

    def writer_lease(self, table_path):
        self._rec("writer_lease")
        return self.inner.writer_lease(table_path)


def _df(spark, rows):
    return spark.createDataFrame(rows, "key long, val string")


def test_engine_routes_through_the_seam(spark, tmp_path):
    """A full lifecycle (create, append, time-travel read, vacuum,
    describe, replace, drop) under a recording plane: results match the
    default plane's, and every core interface operation was exercised
    through the seam."""
    path = str(tmp_path / "t")
    rec = RecordingControlPlane()
    with use_control_plane(rec):
        write_keyed(_df(spark, [(1, "a"), (2, "b")]), path, "key", retain=5)
        write_keyed(
            _df(spark, [(2, "B"), (3, "c")]), path, "key",
            mode=SinkMode.APPEND,
        )
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
        assert got == {(1, "a"), (2, "B"), (3, "c")}
        old = {(r.key, r.val) for r in read_keyed(spark, path, generation=1).collect()}
        assert old == {(1, "a"), (2, "b")}
        assert describe_keyed(spark, path).count() >= 1
        vacuum_keyed(path, retain=1)
        with pytest.raises(FileNotFoundError):
            read_keyed(spark, path, generation=1).collect()
        write_keyed(
            _df(spark, [(9, "z")]), path, "key", mode=SinkMode.REPLACE
        )
        assert read_keyed(spark, path).count() == 1
        KeyedTable(path, "key").drop()

    # the covered control-plane surface was exercised via the seam
    for op in (
        "read_json", "write_json_atomic", "object_exists", "list_names",
        "dir_exists", "delete_tree_quiet", "object_size", "writer_lease",
    ):
        assert rec.calls.get(op, 0) > 0, f"{op} never routed through the seam"
    # and the seam was properly restored
    assert not isinstance(get_control_plane(), RecordingControlPlane)


def test_local_commits_stage_and_rename_nothing(spark, tmp_path):
    """On the local plane every commit writes straight into the table's
    generation directories: a create, APPEND, delete and compaction
    leave nothing beside the table directory and rename nothing."""
    from cascading_hbase_spark.keyed.table import compact_keyed, delete_keyed

    path = str(tmp_path / "t")
    rec = RecordingControlPlane()
    with use_control_plane(rec):
        write_keyed(_df(spark, [(i, f"v{i}") for i in range(20)]), path, "key")
        write_keyed(_df(spark, [(3, "c"), (21, "u")]), path, "key")
        delete_keyed(spark, path, spark.createDataFrame([(4,)], "key long"))
        compact_keyed(spark, path)
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
    assert len(got) == 20 and (3, "c") in got and (21, "u") in got
    assert _os.listdir(tmp_path) == ["t"]
    assert "move_object" not in rec.calls, rec.calls


def test_history_prune_routes_delete_quiet(spark, tmp_path, monkeypatch):
    """The commit-log prune (the engine's only single-object delete)
    goes through delete_quiet — batch-delete on an object store."""
    import cascading_hbase_spark.keyed.table as T

    monkeypatch.setattr(T, "HISTORY_KEEP", 1)
    path = str(tmp_path / "t")
    rec = RecordingControlPlane()
    with use_control_plane(rec):
        write_keyed(_df(spark, [(1, "a")]), path, "key")
        write_keyed(
            _df(spark, [(2, "b")]), path, "key", mode=SinkMode.APPEND
        )
    assert rec.calls.get("delete_quiet", 0) > 0


@localfs_plane_only
def test_legacy_migration_routes_move_object(spark, tmp_path):
    """The flat-bucket legacy layout migrates through move_object (the
    one single-object move in the engine — server-side copy+delete on
    an object store)."""
    import json
    import os

    path = str(tmp_path / "legacy")
    write_keyed(_df(spark, [(1, "a"), (2, "b")]), path, "key")
    # devolve to the pre-generation layout: files flat in the bucket
    # dirs, manifest without gens
    meta = json.load(open(os.path.join(path, "_kt_meta.json")))
    for d in os.listdir(path):
        if not d.startswith("_kt_bucket="):
            continue
        full = os.path.join(path, d)
        for g in os.listdir(full):
            if g.startswith("_kt_gen="):
                for f in os.listdir(os.path.join(full, g)):
                    os.replace(
                        os.path.join(full, g, f), os.path.join(full, f)
                    )
                os.rmdir(os.path.join(full, g))
    for k in ("gens", "last_gen", "version"):
        meta.pop(k, None)
    json.dump(meta, open(os.path.join(path, "_kt_meta.json"), "w"))
    import shutil

    shutil.rmtree(os.path.join(path, "_kt_history"), ignore_errors=True)

    rec = RecordingControlPlane()
    with use_control_plane(rec):
        write_keyed(
            _df(spark, [(3, "c")]), path, "key", mode=SinkMode.APPEND
        )
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # migration is the engine's only move_object/engine-level ensure_dir site
    assert rec.calls.get("move_object", 0) > 0
    assert rec.calls.get("ensure_dir", 0) > 0


class MemoryManifestControlPlane(LocalFSControlPlane):
    """Object-store-shaped hybrid: manifest/history JSON documents live
    in a driver-side dict (the versioned-object + latest-pointer model
    — no filesystem object ever exists for them), while the data plane
    (parquet generation dirs) stays on the local FS exactly as a cloud
    port would keep it in the store's data keys.  Running a full table
    lifecycle against this proves the engine reads manifests ONLY
    through the seam — a hidden ``open()`` of ``_kt_meta.json``
    anywhere in the engine would see no file and fail."""

    def __init__(self):
        super().__init__()
        self.objects: dict[str, dict] = {}

    def read_json(self, key):
        if key not in self.objects:
            raise FileNotFoundError(key)
        return json.loads(json.dumps(self.objects[key]))

    def write_json_atomic(self, key, obj):
        self.objects[key] = json.loads(json.dumps(obj))

    def object_exists(self, key):
        return key in self.objects

    def delete_quiet(self, key):
        self.objects.pop(key, None)

    def delete_tree_quiet(self, prefix):
        # a tree delete must also drop the manifest objects under it
        # (REPLACE / drop) — prefix semantics like a batch-delete
        norm = prefix.rstrip("/") + "/"
        for k in [k for k in self.objects if k.startswith(norm)]:
            del self.objects[k]
        super().delete_tree_quiet(prefix)

    def list_names(self, prefix):
        # merge virtual (manifest/history) children with FS children —
        # a cloud port lists data keys from the store the same way
        norm = prefix.rstrip("/") + "/"
        virtual = {
            k[len(norm):].split("/", 1)[0]
            for k in self.objects
            if k.startswith(norm)
        }
        return sorted(virtual | set(super().list_names(prefix)))

    def dir_exists(self, prefix):
        norm = prefix.rstrip("/") + "/"
        return super().dir_exists(prefix) or any(
            k.startswith(norm) for k in self.objects
        )



def test_memory_manifest_plane_runs_the_engine(spark, tmp_path):
    """Full lifecycle with manifests held ONLY in memory: LWW append,
    time travel, changefeed, vacuum-horizon enforcement — no
    ``_kt_meta.json`` ever on disk."""
    import os

    from cascading_hbase_spark.keyed.table import changefeed_keyed

    path = str(tmp_path / "t")
    mem = MemoryManifestControlPlane()
    with use_control_plane(mem):
        write_keyed(_df(spark, [(1, "a"), (2, "b")]), path, "key", retain=5)
        write_keyed(
            _df(spark, [(2, "B"), (3, "c")]), path, "key",
            mode=SinkMode.APPEND,
        )
        assert not os.path.exists(os.path.join(path, "_kt_meta.json"))
        got = {(r.key, r.val) for r in read_keyed(spark, path).collect()}
        assert got == {(1, "a"), (2, "B"), (3, "c")}
        old = {(r.key, r.val) for r in read_keyed(spark, path, generation=1).collect()}
        assert old == {(1, "a"), (2, "b")}
        feed = {
            (r.key, r._change)
            for r in changefeed_keyed(spark, path, 1).collect()
        }
        assert feed == {(2, "update"), (3, "insert")}
        vacuum_keyed(path, retain=1)
        with pytest.raises(FileNotFoundError):
            read_keyed(spark, path, generation=1).collect()


def test_lease_exclusion_and_scoped_install(tmp_path):
    """The local lease still enforces single-writer through the seam,
    and set_control_plane returns the previous plane."""
    cp = get_control_plane()
    path = str(tmp_path / "t")
    with cp.writer_lease(path):
        with pytest.raises(ConcurrentWriteError):
            with cp.writer_lease(path):
                pass
    # reentry after release works
    with cp.writer_lease(path):
        pass
    prev = set_control_plane(LocalFSControlPlane())
    try:
        assert prev is cp
    finally:
        set_control_plane(prev)
