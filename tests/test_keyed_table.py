"""Keyed-table round-trip tests mirroring the reference's two test
classes one-for-one (SURVEY.md §5):

- MultiFamilyHBaseTest: 13 tuples / 5 distinct keys -> 5 stored rows
  (upsert), round-trip read-back, field projection with key prepended.
- MultiFamilyCascadeHBaseTest: APPEND accumulation 13 -> 26 with fresh
  keys, REPLACE resets, sink deletion + re-run.
Plus range-scan pruning and delete (engine [R] surface).
"""

from __future__ import annotations

import os

import pytest

from cascading_hbase_spark.keyed.table import (
    KeyedTable,
    SinkMode,
    delete_keyed,
    read_keyed,
    write_keyed,
)

# Scenarios whose MECHANICS are local-filesystem-specific (hand-built
# pid lock files, stage siblings, pre-generation legacy layouts): the
# semantics they pin have object-store twins in tests/test_objectstore
# (lease exclusion, rename-free commits, refuse-on-surprise).
localfs_plane_only = pytest.mark.skipif(
    os.environ.get("KT_PLANE") == "objectstore",
    reason="local-FS control-plane mechanics (pid lock / legacy layout / "
    "history and manifest files on disk); object-store twin covered in "
    "test_objectstore.py",
)

# The reference fixture: 13 space-separated rows `num lower upper`,
# keys 1-5 with duplicates (src/test/data/small.txt:1-13).
SMALL = [
    ("1", "a", "A"), ("2", "b", "B"), ("3", "c", "C"), ("4", "d", "D"),
    ("5", "e", "E"), ("1", "f", "F"), ("2", "g", "G"), ("4", "h", "H"),
    ("5", "i", "I"), ("1", "j", "J"), ("2", "k", "K"), ("4", "l", "L"),
    ("5", "m", "M"),
]


@pytest.fixture
def small_df(spark):
    return spark.createDataFrame(
        [(k, lo, up, i) for i, (k, lo, up) in enumerate(SMALL)],
        "key string, lower string, upper string, seq int",
    )


def test_upsert_13_to_5(spark, small_df, tmp_path):
    """13 tuples, 5 distinct keys -> 5 rows (MultiFamilyHBaseTest.java:71)."""
    path = str(tmp_path / "multitable")
    write_keyed(small_df, path, "key", SinkMode.REPLACE, seq_col="seq")
    out = read_keyed(spark, path)
    assert out.count() == 5
    # last write wins: key '1' appears at seq 0, 5, 9 -> row with seq 9 ('j','J')
    row = {r["key"]: (r["lower"], r["upper"]) for r in out.collect()}
    assert row["1"] == ("j", "J")
    assert row["3"] == ("c", "C")  # single write untouched


def test_append_accumulates_13_to_26(spark, tmp_path):
    """Two APPEND runs with disjoint random keys: 13 then 26 rows
    (MultiFamilyCascadeHBaseTest.java:89-104)."""
    path = str(tmp_path / "appendtable")
    df1 = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(13)], "key string, val string"
    )
    df2 = spark.createDataFrame(
        [(f"k{i + 100}", f"v{i}") for i in range(13)], "key string, val string"
    )
    write_keyed(df1, path, "key")  # APPEND is the default (HBaseTap.java:33)
    assert read_keyed(spark, path).count() == 13
    write_keyed(df2, path, "key")
    assert read_keyed(spark, path).count() == 26


def test_append_upserts_existing_keys(spark, tmp_path):
    """APPEND with overlapping keys overwrites (upsert, not duplicate)."""
    path = str(tmp_path / "upserttable")
    df1 = spark.createDataFrame([("a", "old"), ("b", "old")], "key string, val string")
    df2 = spark.createDataFrame([("b", "new"), ("c", "new")], "key string, val string")
    write_keyed(df1, path, "key")
    write_keyed(df2, path, "key")
    rows = {r["key"]: r["val"] for r in read_keyed(spark, path).collect()}
    assert rows == {"a": "old", "b": "new", "c": "new"}


def test_replace_drops_and_recreates(spark, small_df, tmp_path):
    """REPLACE branch (HBaseTap.java:124-128)."""
    path = str(tmp_path / "replacetable")
    write_keyed(small_df, path, "key", SinkMode.REPLACE, seq_col="seq")
    write_keyed(small_df.limit(3), path, "key", SinkMode.REPLACE, seq_col="seq")
    assert read_keyed(spark, path).count() == 3


def test_keep_fails_on_existing(spark, small_df, tmp_path):
    """SinkMode.KEEP refuses to clobber an existing sink."""
    path = str(tmp_path / "keeptable")
    write_keyed(small_df, path, "key", SinkMode.KEEP, seq_col="seq")
    with pytest.raises(FileExistsError):
        write_keyed(small_df, path, "key", SinkMode.KEEP, seq_col="seq")


def test_range_scan(spark, tmp_path):
    """[start, stop) range scan returns only in-range keys
    (TableInputFormatWrap.java:55-65)."""
    path = str(tmp_path / "rangetable")
    df = spark.createDataFrame(
        [(f"k{i:03d}", i) for i in range(100)], "key string, val int"
    )
    write_keyed(df, path, "key")
    out = read_keyed(spark, path, start="k010", stop="k020")
    keys = sorted(r["key"] for r in out.collect())
    assert keys == [f"k{i:03d}" for i in range(10, 20)]


def test_range_scan_prunes_files(spark, tmp_path):
    """Range-partitioned writes let a key predicate prune parquet files —
    the engine-side analogue of per-region split pruning."""
    path = str(tmp_path / "prunetable")
    df = spark.createDataFrame(
        [(f"k{i:05d}", i) for i in range(10000)], "key string, val int"
    )
    write_keyed(df, path, "key", n_buckets=8)
    out = read_keyed(spark, path, start="k00010", stop="k00020")
    assert out.count() == 10
    # plan must carry the pushed filters down to the scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual" in plan


def test_projection_prepends_key(spark, small_df, tmp_path):
    """Field-map projection: key prepended (HBaseScheme.java:157-162)."""
    path = str(tmp_path / "projtable")
    write_keyed(small_df, path, "key", SinkMode.REPLACE, seq_col="seq")
    out = read_keyed(spark, path, fields=["upper"])
    assert out.columns == ["key", "upper"]


def test_delete_keys(spark, small_df, tmp_path):
    """Delete dispatch (TableOutputFormatWrap.java:82) via anti-join."""
    path = str(tmp_path / "deltable")
    t = KeyedTable(path, "key")
    t.write(small_df, SinkMode.REPLACE, seq_col="seq")
    deletes = spark.createDataFrame([("1",), ("4",)], "key string")
    t.delete(spark, deletes)
    keys = sorted(r["key"] for r in t.read(spark).collect())
    assert keys == ["2", "3", "5"]


def test_multi_family_mapping(spark, small_df, tmp_path):
    """Per-column family metadata: two schemes, each with its own family
    over distinct columns (MultiFamilyHBaseTest.java:58-62), families
    auto-derived for unmapped columns (HBaseScheme.java:170-177)."""
    path = str(tmp_path / "famtable")
    t = KeyedTable(path, "key")
    t.write(
        small_df, SinkMode.REPLACE, seq_col="seq",
        families={"lower": "left", "upper": "right"},
    )
    # 'seq' was unmapped -> default family 'cf'
    assert t.families() == {"lower": "left", "upper": "right", "seq": "cf"}
    left = t.read(spark, family="left")
    assert left.columns == ["key", "lower"]
    right = t.read(spark, family="right")
    assert right.columns == ["key", "upper"]
    # family projection still returns the LWW-collapsed 5 rows
    assert left.count() == 5
    # tap-level binding: one tap per family, like one HBaseScheme per
    # family in the reference
    from cascading_hbase_spark.operators.taps import KeyedTableTap

    tap = KeyedTableTap(path, "key", family="right")
    assert tap.read(spark).columns == ["key", "upper"]


def test_append_bumps_seq_before_write(spark, tmp_path):
    """next_seq persists before the merge job, so a crashed-and-replayed
    batch cannot collide on seq (write order stays LWW order)."""
    from cascading_hbase_spark.keyed.controlplane import get_control_plane

    path = str(tmp_path / "seqtable")
    df1 = spark.createDataFrame([("a", "v0")], "key string, val string")
    write_keyed(df1, path, "key")
    df2 = spark.createDataFrame([("a", "v1")], "key string, val string")
    write_keyed(df2, path, "key")
    meta = get_control_plane().read_json(os.path.join(path, "_kt_meta.json"))
    assert meta["next_seq"] == 2
    rows = {r["key"]: r["val"] for r in read_keyed(spark, path).collect()}
    assert rows == {"a": "v1"}


def test_uncommitted_generation_is_invisible(spark, tmp_path):
    """Snapshot isolation: generation dirs not referenced by the
    manifest (a crash between data move and manifest flip) must be
    invisible to readers and GC'd by the next write."""
    import glob
    import shutil

    path = str(tmp_path / "txntable")
    write_keyed(
        spark.createDataFrame([("a", 1)], "key string, val int"), path, "key"
    )
    # simulate a crashed commit: a fully-written NEW generation that
    # never made it into the manifest
    live = glob.glob(os.path.join(path, "_kt_bucket=*", "_kt_gen=*"))[0]
    orphan = os.path.join(os.path.dirname(live), "_kt_gen=99")
    shutil.copytree(live, orphan)
    assert read_keyed(spark, path).count() == 1  # old snapshot only
    write_keyed(
        spark.createDataFrame([("b", 2)], "key string, val int"), path, "key"
    )
    assert not os.path.isdir(orphan)  # GC'd at the next commit
    assert {r["key"] for r in read_keyed(spark, path).collect()} == {"a", "b"}


def test_reader_survives_one_concurrent_commit(spark, tmp_path):
    """GC retains the immediately-previous generation, so a DataFrame
    planned against the prior snapshot still reads after one commit."""
    path = str(tmp_path / "gracetable")
    write_keyed(
        spark.createDataFrame([("a", 1), ("b", 2)], "key string, val int"),
        path, "key",
    )
    old_reader = read_keyed(spark, path)  # pins the gen-0 paths
    write_keyed(
        spark.createDataFrame([("a", 9)], "key string, val int"), path, "key"
    )
    assert old_reader.count() == 2  # prior snapshot still on disk
    rows = {r["key"]: r["val"] for r in read_keyed(spark, path).collect()}
    assert rows == {"a": 9, "b": 2}  # new snapshot is live


@localfs_plane_only
def _flatten_to_legacy(path: str) -> None:
    """Devolve a table to the pre-generation layout: gen files moved up
    into flat bucket dirs, ``gens`` and ``schema`` stripped from the
    manifest."""
    import glob
    import json
    import shutil

    for g in glob.glob(os.path.join(path, "_kt_bucket=*", "_kt_gen=*")):
        bucket = os.path.dirname(g)
        for f in os.listdir(g):
            os.replace(os.path.join(g, f), os.path.join(bucket, f))
        shutil.rmtree(g)
    mp = os.path.join(path, "_kt_meta.json")
    with open(mp) as f:
        meta = json.load(f)
    meta.pop("gens"); meta.pop("schema")
    with open(mp, "w") as f:
        json.dump(meta, f)


@localfs_plane_only
def test_legacy_flat_layout_migrates_on_append(spark, tmp_path):
    """A pre-generation table (flat bucket dirs, no gens in the
    manifest) must migrate in place on the first write, keeping every
    bucket readable."""
    path = str(tmp_path / "legacytable")
    df = spark.createDataFrame(
        [("a", 1), ("m", 2), ("z", 3)], "key string, val int"
    )
    write_keyed(df, path, "key", n_buckets=2)
    _flatten_to_legacy(path)
    assert read_keyed(spark, path).count() == 3  # legacy read path
    # first append migrates, then merges — nothing lost
    write_keyed(spark.createDataFrame([("b", 4)], "key string, val int"), path, "key")
    rows = {r["key"]: r["val"] for r in read_keyed(spark, path).collect()}
    assert rows == {"a": 1, "m": 2, "z": 3, "b": 4}


def test_always_stale(tmp_path):
    """Keyed sinks always report 'modified now' so cascades re-run into
    them (HBaseTap.java:65-67,103-105)."""
    import time

    t = KeyedTable(str(tmp_path / "staletable"), "key")
    a = t.modified_time()
    time.sleep(0.01)
    assert t.modified_time() > a


def test_missing_key_column_raises(spark, tmp_path):
    df = spark.createDataFrame([("a", 1)], "notkey string, val int")
    with pytest.raises(ValueError, match="key column"):
        write_keyed(df, str(tmp_path / "x"), "key")


def _bucket_files(path):
    """Map bucket dir -> {relative parquet path: mtime_ns}, walking
    generation subdirectories."""
    out = {}
    for d in os.listdir(path):
        if d.startswith("_kt_bucket="):
            full = os.path.join(path, d)
            files = {}
            for root, _dirs, names in os.walk(full):
                for f in names:
                    if f.endswith(".parquet"):
                        p = os.path.join(root, f)
                        files[os.path.relpath(p, full)] = os.stat(p).st_mtime_ns
            out[d] = files
    return out


def test_append_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB contract: an APPEND merges only the buckets its batch
    touches; every other bucket's files stay byte-for-byte untouched
    (the analogue of an HBase Put routing to one region)."""
    path = str(tmp_path / "incrtable")
    df = spark.createDataFrame(
        [(f"k{i:05d}", i) for i in range(10000)], "key string, val int"
    )
    write_keyed(df, path, "key", n_buckets=8)
    before = _bucket_files(path)
    assert len(before) == 8
    # touch a single key -> a single bucket
    batch = spark.createDataFrame([("k00000", -1)], "key string, val int")
    write_keyed(batch, path, "key")
    after = _bucket_files(path)
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1, f"expected 1 rewritten bucket, got {changed}"
    # and the upsert applied
    rows = {r["key"]: r["val"] for r in read_keyed(spark, path).collect()}
    assert rows["k00000"] == -1 and len(rows) == 10000


def test_range_scan_prunes_buckets(spark, tmp_path):
    """A key range must prune bucket directories (partition pruning),
    not just rely on row-group skipping."""
    path = str(tmp_path / "bucketprune")
    df = spark.createDataFrame(
        [(f"k{i:05d}", i) for i in range(10000)], "key string, val int"
    )
    write_keyed(df, path, "key", n_buckets=8)
    out = read_keyed(spark, path, start="k00010", stop="k00020")
    assert out.count() == 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_kt_bucket" in plan  # partition filter present


def test_delete_can_empty_a_bucket(spark, tmp_path):
    """Deleting every key of a bucket must drop its directory (dynamic
    overwrite alone would leave the stale files in place)."""
    path = str(tmp_path / "emptybucket")
    df = spark.createDataFrame([("a", 1), ("z", 2)], "key string, val int")
    write_keyed(df, path, "key", n_buckets=2)
    deletes = spark.createDataFrame([("z",)], "key string")
    delete_keyed(spark, path, deletes)
    keys = sorted(r["key"] for r in read_keyed(spark, path).collect())
    assert keys == ["a"]


def test_delete_key_of_wider_type_matches_exactly(spark, tmp_path):
    """A delete key the table's key type cannot hold exactly deletes
    nothing (3.5 never deletes the bigint key 3); one it holds exactly
    (4.0) deletes its key."""
    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame([(i, i * 10) for i in range(8)], "k bigint, v bigint"),
        path, "k", n_buckets=2,
    )
    delete_keyed(spark, path, spark.createDataFrame([(3.5,), (4.0,)], "k double"))
    keys = sorted(r["k"] for r in read_keyed(spark, path).collect())
    assert keys == [0, 1, 2, 3, 5, 6, 7]


# ---------------------------------------------------------------------------
# Round-3 surface: commit history, grace for emptied buckets, writer
# lock, compaction / re-bucketing, time travel / rollback.
# ---------------------------------------------------------------------------

def test_delete_emptied_bucket_keeps_reader_grace(spark, tmp_path):
    """A bucket emptied by a delete keeps its last generation for one
    commit (the previous manifest still references it), so an in-flight
    reader survives; the following commit collects the directory."""
    path = str(tmp_path / "emptygrace")
    df = spark.createDataFrame([("a", 1), ("z", 2)], "key string, val int")
    write_keyed(df, path, "key", n_buckets=2)
    old_reader = read_keyed(spark, path)  # pins both buckets' gen dirs
    delete_keyed(spark, path, spark.createDataFrame([("z",)], "key string"))
    assert old_reader.count() == 2  # grace: emptied bucket's gen retained
    assert read_keyed(spark, path).count() == 1
    # next commit: nothing references the emptied bucket any more
    write_keyed(spark.createDataFrame([("b", 3)], "key string, val int"), path, "key")
    assert not os.path.isdir(os.path.join(path, "_kt_bucket=1"))


@localfs_plane_only
def test_concurrent_writer_raises(spark, tmp_path):
    """Two live writers on one table must not race the manifest: the
    second gets ConcurrentWriteError while the first's lock is held."""
    from cascading_hbase_spark.keyed.table import ConcurrentWriteError, _lock_path

    path = str(tmp_path / "locktable")
    df = spark.createDataFrame([("a", 1)], "key string, val int")
    write_keyed(df, path, "key")
    lock = _lock_path(path)
    with open(lock, "w") as f:
        f.write(str(os.getpid()))  # a live pid holds the lock
    with pytest.raises(ConcurrentWriteError):
        write_keyed(df, path, "key")
    os.remove(lock)


def test_stale_writer_lock_is_reclaimed(spark, tmp_path):
    """A lock left by a dead process must not wedge the table."""
    import subprocess

    from cascading_hbase_spark.keyed.table import _lock_path

    path = str(tmp_path / "staletable2")
    df = spark.createDataFrame([("a", 1)], "key string, val int")
    write_keyed(df, path, "key")
    p = subprocess.Popen(["true"])
    p.wait()
    with open(_lock_path(path), "w") as f:
        f.write(str(p.pid))  # definitely-dead pid
    write_keyed(spark.createDataFrame([("b", 2)], "key string, val int"), path, "key")
    assert read_keyed(spark, path).count() == 2


def _live_parquet_files(path):
    """Parquet files referenced by the CURRENT manifest only.  Reads
    the manifest through the control plane so the check is valid
    under KT_PLANE=objectstore too (data files are always on the
    local FS in tests — only control documents move)."""
    from cascading_hbase_spark.keyed.controlplane import get_control_plane

    meta = get_control_plane().read_json(os.path.join(path, "_kt_meta.json"))
    files = []
    for b, g in meta["gens"].items():
        gen_dir = os.path.join(path, f"_kt_bucket={b}", f"_kt_gen={g}")
        files += [f for f in os.listdir(gen_dir) if f.endswith(".parquet")]
    return files


def test_compact_coalesces_files_and_preserves_rows(spark, tmp_path):
    """Many appends -> compact: rows bit-identical, live file count
    bounded by ~one file per bucket (the HBase major-compaction
    analogue the reference got from the region server)."""
    path = str(tmp_path / "compacttable")
    df = spark.createDataFrame(
        [(f"k{i:04d}", i) for i in range(1000)], "key string, val int"
    )
    write_keyed(df, path, "key", n_buckets=4)
    for j in range(6):
        batch = spark.createDataFrame(
            [(f"k{(37 * j + i) % 1000:04d}", 10000 + j) for i in range(50)],
            "key string, val int",
        )
        write_keyed(batch, path, "key")
    before = sorted(
        (r["key"], r["val"]) for r in read_keyed(spark, path).collect()
    )
    from cascading_hbase_spark.keyed.table import compact_keyed

    compact_keyed(spark, path)
    after = sorted(
        (r["key"], r["val"]) for r in read_keyed(spark, path).collect()
    )
    assert before == after
    assert len(_live_parquet_files(path)) <= 8  # ~1/bucket, slack for hash ties


def test_compact_rebuckets_on_drifted_keys(spark, tmp_path):
    """compact_keyed(n_buckets=...) re-samples range boundaries from the
    CURRENT keys — the fix for key-distribution drift freezing the
    creation-time boundaries."""
    import json

    path = str(tmp_path / "rebucket")
    # created from keys k0000-k0999 with 1 bucket (no boundaries)
    df = spark.createDataFrame(
        [(f"k{i:04d}", i) for i in range(1000)], "key string, val int"
    )
    write_keyed(df, path, "key", n_buckets=1)
    from cascading_hbase_spark.keyed.table import compact_keyed

    compact_keyed(spark, path, n_buckets=4)
    from cascading_hbase_spark.keyed.controlplane import get_control_plane

    meta = get_control_plane().read_json(os.path.join(path, "_kt_meta.json"))
    assert len(meta["boundaries"]) == 3  # 4 buckets
    assert sorted(int(b) for b in meta["gens"]) == [0, 1, 2, 3]
    out = read_keyed(spark, path, start="k0010", stop="k0020")
    assert out.count() == 10
    assert read_keyed(spark, path).count() == 1000


def test_time_travel_reads_and_rollback(spark, tmp_path):
    """Every commit is a readable snapshot within the retain window;
    rollback re-points the manifest and stays seq-monotone."""
    from cascading_hbase_spark.keyed.table import (
        list_generations,
        rollback_keyed,
    )

    path = str(tmp_path / "timetravel")
    write_keyed(
        spark.createDataFrame([("a", 1)], "key string, val int"),
        path, "key", retain=10,
    )
    write_keyed(spark.createDataFrame([("a", 2)], "key string, val int"), path, "key")
    write_keyed(spark.createDataFrame([("b", 3)], "key string, val int"), path, "key")
    assert list_generations(path) == [1, 2, 3]
    snap = lambda g: {  # noqa: E731
        (r["key"], r["val"])
        for r in read_keyed(spark, path, generation=g).collect()
    }
    assert snap(1) == {("a", 1)}
    assert snap(2) == {("a", 2)}
    assert snap(3) == {("a", 2), ("b", 3)}
    rollback_keyed(path, 2)
    assert {
        (r["key"], r["val"]) for r in read_keyed(spark, path).collect()
    } == {("a", 2)}
    # post-rollback writes keep working and stay LWW-correct
    write_keyed(spark.createDataFrame([("a", 9)], "key string, val int"), path, "key")
    assert {
        (r["key"], r["val"]) for r in read_keyed(spark, path).collect()
    } == {("a", 9)}


def test_time_travel_beyond_retain_raises(spark, tmp_path):
    """Snapshots older than the retain window have had their data
    GC'd: reading them must fail loudly, not return partial data."""
    path = str(tmp_path / "gcbound")
    write_keyed(spark.createDataFrame([("a", 1)], "key string, val int"), path, "key")
    write_keyed(spark.createDataFrame([("a", 2)], "key string, val int"), path, "key")
    write_keyed(spark.createDataFrame([("a", 3)], "key string, val int"), path, "key")
    with pytest.raises(FileNotFoundError, match="garbage-collected"):
        read_keyed(spark, path, generation=1)


def test_surprise_buckets_are_refused(spark, tmp_path, plane):
    """Rows that land in a bucket outside the caller's affected list
    (plan re-evaluation on non-deterministic input) refuse the commit:
    that bucket's next generation dir was never orphan-probed, so
    publishing it could merge a crashed attempt's leftovers.  The
    manifest never flips, the escaped dir is deleted, and a retry with
    an honest affected list publishes."""
    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "surprise")
    df = spark.createDataFrame([("a", 1), ("z", 2)], "key string, val int")
    write_keyed(df, path, "key", n_buckets=2)
    meta = kt._load_meta(path)
    batch = spark.createDataFrame(
        [("b", 5, 1, 0), ("y", 6, 1, 1)],
        "key string, val int, _kt_seq int, _kt_bucket int",
    )
    with pytest.raises(AssertionError, match="outside the declared"):
        kt._write_and_commit(batch, path, "key", meta, affected=[0])
    # manifest never flipped: previous snapshot intact
    assert kt.table_version(path) == meta["version"]
    keys = {r["key"] for r in read_keyed(spark, path).collect()}
    assert keys == {"a", "z"}
    # the escaped dir was deleted, so the refusal is retryable
    escaped = os.path.join(
        path, "_kt_bucket=1", f"_kt_gen={meta['last_gen']['1'] + 1}"
    )
    assert not os.path.exists(escaped)
    # the same batch with an honest affected set publishes (each
    # affected bucket's generation IS its full new content, so the
    # batch's rows replace both buckets)
    meta = kt._load_meta(path)
    kt._write_and_commit(batch, path, "key", meta, affected=[0, 1])
    keys = {r["key"] for r in read_keyed(spark, path).collect()}
    assert keys == {"b", "y"}


def test_crashed_write_leftovers_are_not_published(spark, tmp_path, plane):
    """A driver killed after a task committed leaves that task's output
    under ``<table>/_temporary/0/``; the file committer merges it into
    the next append at the same root, at the generation number the
    crashed attempt used, which the next commit reuses.  The commit
    clears it first: every key keeps exactly one row and the stale row
    never appears."""
    import shutil

    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame(
            [(f"k{i:03d}", i) for i in range(100)], "key string, val int"
        ),
        path, "key", n_buckets=4,
    )
    meta = kt._load_meta(path)
    b = kt._bucket_of("k050", meta["boundaries"])
    nextgen = max(meta["gens"][str(b)], meta["last_gen"][str(b)]) + 1
    # one valid parquet file holding a stale row for the APPEND's key
    scratch = str(tmp_path / "stale")
    spark.createDataFrame(
        [("k050", -999, 0)], "key string, val int, _kt_seq long"
    ).coalesce(1).write.parquet(scratch)
    task = os.path.join(
        path, "_temporary", "0", "task_202601010000_0001_m_000000",
        f"_kt_bucket={b}", f"_kt_gen={nextgen}",
    )
    os.makedirs(task)
    for f in os.listdir(scratch):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(scratch, f), task)
    write_keyed(
        spark.createDataFrame([("k050", 50050)], "key string, val int"),
        path, "key",
    )
    rows = read_keyed(spark, path).collect()
    assert len(rows) == 100 and len({r["key"] for r in rows}) == 100
    got = {r["key"]: r["val"] for r in rows}
    assert got["k050"] == 50050 and -999 not in got.values()


@localfs_plane_only
def test_legacy_delete_all_leaves_readable_empty_table(spark, tmp_path):
    """Deleting every row of a legacy-migrated table must backfill the
    manifest schema so subsequent reads return an empty frame, not
    FileNotFoundError."""
    import glob
    import json
    import shutil

    path = str(tmp_path / "legacydel")
    write_keyed(
        spark.createDataFrame([("a", 1)], "key string, val int"), path, "key"
    )
    # flatten to the legacy layout
    for g in glob.glob(os.path.join(path, "_kt_bucket=*", "_kt_gen=*")):
        bucket = os.path.dirname(g)
        for f in os.listdir(g):
            os.replace(os.path.join(g, f), os.path.join(bucket, f))
        shutil.rmtree(g)
    shutil.rmtree(os.path.join(path, "_kt_history"), ignore_errors=True)
    mp = os.path.join(path, "_kt_meta.json")
    with open(mp) as f:
        meta = json.load(f)
    for k in ("gens", "schema", "version", "last_gen"):
        meta.pop(k, None)
    with open(mp, "w") as f:
        json.dump(meta, f)
    delete_keyed(spark, path, spark.createDataFrame([("a",)], "key string"))
    out = read_keyed(spark, path)
    assert out.count() == 0
    assert set(out.columns) == {"key", "val"}


def test_changefeed_classifies_insert_update_delete(spark, tmp_path):
    """The generation diff is the versioned-cell scan analogue: one row
    per changed key, classified, carrying the post-change value (the
    pre-delete value for deletes); unchanged keys emit nothing."""
    from cascading_hbase_spark.keyed.table import changefeed_keyed

    path = str(tmp_path / "cdc")
    base = [("a", 1), ("b", 2), ("c", 3)]
    write_keyed(
        spark.createDataFrame(base, "key string, val int"), path, "key",
        retain=10,
    )
    write_keyed(  # v2: update a, insert d, b/c untouched
        spark.createDataFrame([("a", 10), ("d", 4)], "key string, val int"),
        path, "key",
    )
    delete_keyed(  # v3: delete b
        spark, path, spark.createDataFrame([("b",)], "key string")
    )
    feed = lambda lo, hi=None: {  # noqa: E731
        (r["key"], r["_change"], r["val"])
        for r in changefeed_keyed(spark, path, lo, hi).collect()
    }
    assert feed(1, 2) == {("a", "update", 10), ("d", "insert", 4)}
    assert feed(2, 3) == {("b", "delete", 2)}
    assert feed(1) == {  # to_generation=None -> current
        ("a", "update", 10), ("d", "insert", 4), ("b", "delete", 2),
    }
    assert feed(3, 3) == set()


def test_secondary_index_lookup_and_staleness(spark, tmp_path):
    """Equality lookup through the index returns exactly the rows a
    full-scan filter would; the index range scan bucket-prunes; a
    post-build commit makes the index stale (explicit error, opt-out
    point-in-time read), and refresh clears it."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.index import (
        StaleIndexError,
        create_index,
        index_lookup,
        refresh_index,
    )

    path = str(tmp_path / "idx")
    rows = [(i, f"cat{i % 7}", i * 10) for i in range(500)]
    write_keyed(
        spark.createDataFrame(rows, "key long, cat string, val long"),
        path, "key", n_buckets=8,
    )
    create_index(spark, path, "cat")
    got = index_lookup(spark, path, "cat", "cat3")
    expect = read_keyed(spark, path).filter("cat = 'cat3'")
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in expect.collect()
    }
    # the index scan prunes: partition filter on the index's buckets
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_kt_bucket" in plan
    # staleness is explicit
    write_keyed(
        spark.createDataFrame([(1000, "cat3", 1)], "key long, cat string, val long"),
        path, "key",
    )
    with _pytest.raises(StaleIndexError):
        index_lookup(spark, path, "cat", "cat3")
    stale = index_lookup(spark, path, "cat", "cat3", check_fresh=False)
    assert stale.count() == expect.count()  # point-in-time: misses key 1000
    refresh_index(spark, path, "cat")
    assert index_lookup(spark, path, "cat", "cat3").count() == expect.count() + 1


def test_secondary_index_rejects_separator_and_missing(spark, tmp_path):
    from cascading_hbase_spark.keyed.index import create_index, index_lookup

    path = str(tmp_path / "idxbad")
    write_keyed(
        spark.createDataFrame([(1, "a\x00b")], "key long, cat string"),
        path, "key",
    )
    with pytest.raises(ValueError):
        create_index(spark, path, "cat")
    with pytest.raises(FileNotFoundError):
        index_lookup(spark, path, "cat", "x")


def test_append_with_new_column_evolves_schema(spark, tmp_path):
    """HBase cells are schema-less per qualifier: an APPEND batch with a
    new column extends the table schema additively — old rows read the
    new column as null, untouched buckets stay physically unrewritten,
    and pruned reads of pre-evolution buckets still see the full
    schema.  Compaction rewrites everything onto the full schema."""
    from cascading_hbase_spark.keyed.table import compact_keyed

    path = str(tmp_path / "evolve")
    write_keyed(
        spark.createDataFrame(
            [(f"k{i:03d}", i) for i in range(100)], "key string, val int"
        ),
        path, "key", n_buckets=4, retain=10,
    )
    # new column 'extra' arrives; touches only one key range
    write_keyed(
        spark.createDataFrame(
            [("k000", 1000, "x")], "key string, val int, extra string"
        ),
        path, "key",
    )
    full = read_keyed(spark, path)
    assert full.columns == ["key", "val", "extra"]
    rows = {r["key"]: (r["val"], r["extra"]) for r in full.collect()}
    assert rows["k000"] == (1000, "x")
    assert rows["k001"] == (1, None)
    assert len(rows) == 100
    # pruned read over pre-evolution buckets only: schema still full
    tail = read_keyed(spark, path, start="k050", stop="k060")
    assert tail.columns == ["key", "val", "extra"]
    assert tail.count() == 10 and all(r["extra"] is None for r in tail.collect())
    # a later batch missing 'extra' null-fills it for its own keys only
    write_keyed(
        spark.createDataFrame([("k000", 5)], "key string, val int"), path, "key"
    )
    assert read_keyed(spark, path).filter("key = 'k000'").collect()[0]["extra"] is None
    # family defaulting for the evolved column
    from cascading_hbase_spark.keyed.table import _load_meta

    assert _load_meta(path)["families"]["extra"] == "cf"
    # compaction normalizes the physical layout; reads identical
    before = {tuple(r) for r in read_keyed(spark, path).collect()}
    compact_keyed(spark, path)
    assert {tuple(r) for r in read_keyed(spark, path).collect()} == before
    assert not _load_meta(path).get("schema_evolved")


def test_ttl_filters_reads_and_compaction_purges(spark, tmp_path):
    """HBase TTL analogue: expired rows vanish from reads, compaction
    physically purges them, pre-TTL snapshots still see everything."""
    import glob
    import time as _time

    from cascading_hbase_spark.keyed.table import (
        compact_keyed,
        list_generations,
        set_ttl,
    )

    path = str(tmp_path / "ttl")
    now = _time.time()
    rows = [("old1", now - 7200), ("old2", now - 7200), ("fresh", now)]
    write_keyed(
        spark.createDataFrame(rows, "key string, ts double"), path, "key",
        retain=10,
    )
    pre_ttl_gen = list_generations(path)[-1]
    set_ttl(path, "ts", 3600)
    assert {r["key"] for r in read_keyed(spark, path).collect()} == {"fresh"}
    # pre-TTL snapshot unaffected (time travel)
    assert read_keyed(spark, path, generation=pre_ttl_gen).count() == 3
    # compaction purges physically: raw parquet rows drop to 1
    compact_keyed(spark, path)
    files = glob.glob(f"{path}/_kt_bucket=*/_kt_gen=*/*.parquet")
    import duckdb

    live = duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet(?)",
        [sorted(files)],
    ).fetchone()[0]
    # grace generations may still hold old rows; count only live gens
    from cascading_hbase_spark.keyed.table import _load_meta

    gens = _load_meta(path)["gens"]
    live_files = [
        f for f in files
        if any(f"_kt_bucket={b}/_kt_gen={g}/" in f for b, g in gens.items())
    ]
    n_live = duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet(?)", [sorted(live_files)]
    ).fetchone()[0]
    assert n_live == 1
    # clearing the TTL restores nothing (rows are gone post-compaction)
    set_ttl(path, "ts", None)
    assert read_keyed(spark, path).count() == 1
    # unknown column rejected
    with pytest.raises(KeyError):
        set_ttl(path, "nope", 10)


def test_minor_compaction_rewrites_only_fragmented_buckets(spark, tmp_path):
    """HBase minor-compaction analogue: only buckets whose live
    generation is fragmented past the threshold rewrite; untouched
    buckets keep their generation pointer (and files), reads are
    bit-identical, and a repeat run is a no-op."""
    import os

    from cascading_hbase_spark.keyed.table import (
        BUCKET_COL,
        GEN_PREFIX,
        _load_meta,
        compact_keyed,
    )

    path = str(tmp_path / "kt")
    df0 = spark.createDataFrame(
        [(i, i * 10) for i in range(40)], "k bigint, v bigint"
    )
    write_keyed(df0, path, "k", n_buckets=4, retain=10)
    compact_keyed(spark, path)  # major: ~1 file per bucket baseline

    def files_per_bucket():
        meta = _load_meta(path)
        out = {}
        for b, g in meta["gens"].items():
            d = os.path.join(path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{g}")
            out[b] = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        return out

    # fragment ONE bucket: a multi-key append entirely in the low range,
    # written at two records per file (a commit writes one file per
    # touched bucket unless the session caps the records per file)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try:
        write_keyed(
            spark.createDataFrame(
                [(i, 999) for i in range(8)], "k bigint, v bigint"
            ),
            path,
            "k",
            mode=SinkMode.APPEND,
        )
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    frag = {b for b, n in files_per_bucket().items() if n > 1}
    assert frag, "append should have fragmented at least one bucket"
    before_rows = {tuple(r) for r in read_keyed(spark, path).collect()}
    gens_before = dict(_load_meta(path)["gens"])

    compact_keyed(spark, path, min_files=1)
    gens_after = dict(_load_meta(path)["gens"])
    # fragmented buckets moved to a new generation, others untouched
    for b in gens_before:
        if b in frag:
            assert gens_after[b] != gens_before[b]
        else:
            assert gens_after[b] == gens_before[b]
    assert all(n <= 1 for n in files_per_bucket().values())
    assert {tuple(r) for r in read_keyed(spark, path).collect()} == before_rows

    # idempotent: nothing fragmented -> no new commit
    v = _load_meta(path)["version"]
    compact_keyed(spark, path, min_files=1)
    assert _load_meta(path)["version"] == v

    with pytest.raises(ValueError):
        compact_keyed(spark, path, n_buckets=2, min_files=1)


def test_clone_keyed_snapshot_and_independence(spark, tmp_path):
    """clone_keyed = HBase snapshot/cloneSnapshot: the clone captures
    the chosen snapshot (current or time-travel), then lives its own
    life — writes to either side never affect the other."""
    from cascading_hbase_spark.keyed.table import _load_meta, clone_keyed

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, v string"
    )
    write_keyed(df, src, "k", retain=10)
    v1 = _load_meta(src)["version"]
    write_keyed(
        spark.createDataFrame([(3, "c")], "k bigint, v string"),
        src,
        "k",
        mode=SinkMode.APPEND,
    )

    clone_keyed(spark, src, dst)  # current snapshot: 3 rows
    assert read_keyed(spark, dst).count() == 3

    old = str(tmp_path / "old")
    clone_keyed(spark, src, old, generation=v1)  # time-travel clone
    assert read_keyed(spark, old).count() == 2

    # independence both ways
    write_keyed(
        spark.createDataFrame([(9, "z")], "k bigint, v string"),
        dst,
        "k",
        mode=SinkMode.APPEND,
    )
    assert read_keyed(spark, src).count() == 3
    assert read_keyed(spark, dst).count() == 4


def test_composite_key_prefix_range_scan(spark, tmp_path):
    """Compound rowkey idiom: delimiter-joined attributes sort
    lexicographically, so a prefix range scan fetches one leading
    attribute's group."""
    from cascading_hbase_spark.keyed.table import composite_key, composite_prefix

    path = str(tmp_path / "kt")
    df = spark.createDataFrame(
        [("us", 1, 10), ("us", 2, 20), ("eu", 1, 30), ("eu", 2, 40),
         ("eu2", 1, 50), (None, 3, 60)],
        "region string, uid int, v int",
    ).withColumn("rk", composite_key("region", "uid"))
    write_keyed(df.select("rk", "region", "uid", "v"), path, "rk")
    # all 6 rows distinct — a NULL component must NOT collide keys
    assert read_keyed(spark, path).count() == 6
    start, stop = composite_prefix("eu")
    got = read_keyed(spark, path, start=start, stop=stop)
    # exactly the 'eu' rows: 'eu2' shares the prefix chars but is excluded
    assert sorted((r["region"], r["uid"]) for r in got.collect()) == [
        ("eu", 1),
        ("eu", 2),
    ]


def test_get_keyed_point_lookup_prunes_buckets(spark, tmp_path, monkeypatch):
    """HBase multi-Get analogue: only the requested keys' buckets are
    listed (driver-side pruning), the IN predicate pushes to the scan,
    and results match the full-scan filter.  With the driver-side
    generation cache off (``_held_rows`` holds nothing) the get reads
    parquet; with it on, the same gets return the same rows and a warm
    one runs no Spark job."""
    from cascading_hbase_spark.keyed import table as kt
    from cascading_hbase_spark.keyed.table import get_keyed

    path = str(tmp_path / "kt")
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(40)], "k bigint, v bigint"
    )
    write_keyed(df, path, "k", n_buckets=4)
    with monkeypatch.context() as m:
        m.setattr(kt, "_held_rows", lambda *a: None)
        got = get_keyed(spark, path, [3, 37])
        assert sorted(map(tuple, got.collect())) == [(3, 30), (37, 370)]
        # pruning: the plan's file scan must reference at most 2 bucket dirs
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "In(k, [3,37])" in plan or "isin" in plan.lower() or "IN (" in plan, plan
        import re

        dirs = set(re.findall(r"_kt_bucket=(\d+)", plan))
        assert len(dirs) <= 2, plan
        # fields projection and missing keys
        got2 = get_keyed(spark, path, [3, 999], fields=["v"])
        assert sorted(map(tuple, got2.collect())) == [(3, 30)]
    # the cached path: same rows, and warm gets run no job
    get_keyed(spark, path, [3, 37]).collect()
    rows: list = []
    assert _jobs_run(
        spark, lambda: rows.extend(get_keyed(spark, path, [3, 37]).collect())
    ) == 0
    assert sorted(map(tuple, rows)) == [(3, 30), (37, 370)]
    rows.clear()
    assert _jobs_run(
        spark,
        lambda: rows.extend(get_keyed(spark, path, [3, 999], fields=["v"]).collect()),
    ) == 0
    assert sorted(map(tuple, rows)) == [(3, 30)]


def test_merge_keyed_mixed_batch_is_one_commit(spark, tmp_path):
    """MERGE applies inserts + updates + deletes atomically: one
    manifest version bump, final contents exact, delete+reinsert of the
    same key resolves delete-then-insert."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, list_generations, merge_keyed, read_keyed, write_keyed,
    )

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, name string, v double",
        ),
        path, "k", retain=10,
    )
    gens_before = list_generations(spark_path := path)
    changes = spark.createDataFrame(
        [
            (4, "d", 40.0, "insert"),     # new key
            (2, "B", 22.0, "update"),     # existing key
            (3, None, None, "delete"),    # drop key 3
            (1, None, None, "delete"),    # delete ...
            (1, "A2", 11.0, "insert"),    # ... then reinsert same key
        ],
        "k long, name string, v double, _change string",
    )
    merge_keyed(spark, path, changes)
    got = sorted(
        (r.k, r.name, r.v) for r in read_keyed(spark, path).collect()
    )
    assert got == [(1, "A2", 11.0), (2, "B", 22.0), (4, "d", 40.0)]
    assert len(list_generations(spark_path)) == len(gens_before) + 1


def test_apply_changefeed_replicates(spark, tmp_path):
    """CDC loop: replica + changefeed-apply converges to the primary,
    across appends, deletes AND an additive schema evolution."""
    from cascading_hbase_spark.keyed.table import (
        SinkMode, apply_changefeed, changefeed_keyed, delete_keyed,
        read_keyed, write_keyed, _load_meta,
    )

    primary, replica = str(tmp_path / "p"), str(tmp_path / "r")
    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    write_keyed(initial, primary, "k", retain=20)
    write_keyed(initial, replica, "k", retain=20)
    v0 = _load_meta(primary)["version"]

    # mutate the primary: update, insert-with-new-column, delete
    write_keyed(
        spark.createDataFrame(
            [(2, "B", 21.0, "x"), (9, "i", 90.0, "y")],
            "k long, name string, v double, extra string",
        ),
        primary, "k", mode=SinkMode.APPEND,
    )
    delete_keyed(spark, primary, spark.createDataFrame([(3,)], "k long"))

    feed = changefeed_keyed(spark, primary, v0)
    apply_changefeed(spark, replica, feed)

    want = sorted(tuple(r) for r in read_keyed(spark, primary).collect())
    got = sorted(tuple(r) for r in read_keyed(spark, replica).collect())
    assert got == want and len(got) > 0


def test_replica_incremental_sync_and_staleness(spark, tmp_path):
    """Cursor-based replication: repeated syncs each apply exactly the
    new delta (no-op when current), survive interleaved primary
    commits, and refuse loudly once the cursor falls out of the
    primary's retain window."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.replica import (
        StaleReplicaError, create_replica, sync_replica,
    )
    from cascading_hbase_spark.keyed.table import (
        SinkMode, delete_keyed, read_keyed, write_keyed,
    )

    primary, replica = str(tmp_path / "p"), str(tmp_path / "r")
    write_keyed(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "k long, name string, v double"
        ),
        primary, "k", retain=20,
    )
    create_replica(spark, primary, replica)
    assert sync_replica(spark, primary, replica) is False  # already current

    def _same():
        want = sorted(tuple(r) for r in read_keyed(spark, primary).collect())
        got = sorted(tuple(r) for r in read_keyed(spark, replica).collect())
        assert got == want

    # several primary commits between syncs collapse into one delta
    write_keyed(
        spark.createDataFrame([(3, "c", 3.0)], "k long, name string, v double"),
        primary, "k", mode=SinkMode.APPEND,
    )
    delete_keyed(spark, primary, spark.createDataFrame([(1,)], "k long"))
    assert sync_replica(spark, primary, replica) is True
    _same()

    write_keyed(
        spark.createDataFrame([(2, "B", 9.0)], "k long, name string, v double"),
        primary, "k", mode=SinkMode.APPEND,
    )
    assert sync_replica(spark, primary, replica) is True
    _same()

    # staleness: primary with retain=2 outruns the replica's cursor
    p2, r2 = str(tmp_path / "p2"), str(tmp_path / "r2")
    write_keyed(
        spark.createDataFrame([(1, "a", 1.0)], "k long, name string, v double"),
        p2, "k",
    )  # default retain=2
    create_replica(spark, p2, r2)
    for i in range(2, 6):
        write_keyed(
            spark.createDataFrame(
                [(i, "x", float(i))], "k long, name string, v double"
            ),
            p2, "k", mode=SinkMode.APPEND,
        )
    with _pytest.raises(StaleReplicaError):
        sync_replica(spark, p2, r2)
    # rebuild recovers
    create_replica(spark, p2, r2)
    want = sorted(tuple(r) for r in read_keyed(spark, p2).collect())
    got = sorted(tuple(r) for r in read_keyed(spark, r2).collect())
    assert got == want


def test_optimistic_merge_version_gate(spark, tmp_path):
    """Optimistic concurrency: a merge derived from version V commits
    iff the table is still at V; a commit that lands in between makes
    the stale merge raise StaleWriteError and leaves state untouched."""
    from cascading_hbase_spark.keyed.table import (
        StaleWriteError, merge_keyed, read_keyed, table_version,
        write_keyed,
    )

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0)], "k long, v double"
        ),
        path, "k",
    )
    v = table_version(path)

    # CAS succeeds while the version still matches, and bumps it
    merge_keyed(
        spark, path,
        spark.createDataFrame([(3, 30.0, "insert")],
                              "k long, v double, _change string"),
        expected_version=v,
    )
    assert table_version(path) == v + 1

    # a batch still derived from the OLD version must not commit
    import pytest as _pytest
    with _pytest.raises(StaleWriteError):
        merge_keyed(
            spark, path,
            spark.createDataFrame([(1, 99.0, "update")],
                                  "k long, v double, _change string"),
            expected_version=v,
        )
    got = sorted((r.k, r.v) for r in read_keyed(spark, path).collect())
    assert got == [(1, 10.0), (2, 20.0), (3, 30.0)]  # stale write rejected
    assert table_version(path) == v + 1              # no version burn

    # expected_version=None keeps the unconditional behavior
    merge_keyed(
        spark, path,
        spark.createDataFrame([(1, 99.0, "update")],
                              "k long, v double, _change string"),
    )
    got = sorted((r.k, r.v) for r in read_keyed(spark, path).collect())
    assert got == [(1, 99.0), (2, 20.0), (3, 30.0)]


def test_zone_map_pruning(spark, tmp_path):
    """Zone maps: non-key-column min/max per bucket prunes bucket
    directories on read, refreshes on append, stays a correct superset
    after deletes, and the read applies the row filter exactly."""
    from cascading_hbase_spark.keyed.table import (
        delete_keyed, read_keyed, write_keyed,
    )

    path = str(tmp_path / "zt")
    # v rides monotonically with k, so bucket zone ranges are disjoint
    df = spark.createDataFrame(
        [(k, k * 10.0) for k in range(100)], "k long, v double"
    )
    write_keyed(df, path, "k", n_buckets=4, zone_cols=["v"])

    narrow = read_keyed(spark, path, zone_filter=("v", 100.0, 150.0))
    assert sorted(r.k for r in narrow.collect()) == list(range(10, 16))
    # pruning is real: fewer bucket dirs listed than the full scan
    full = read_keyed(spark, path)
    assert len(set(narrow.inputFiles())) < len(set(full.inputFiles()))
    assert full.count() == 100

    # append into the low-key bucket with HIGH v: its zone must widen
    write_keyed(
        spark.createDataFrame([(0, 9999.0), (1, 9998.0)], "k long, v double"),
        path, "k",
    )
    high = read_keyed(spark, path, zone_filter=("v", 9000.0, None))
    assert sorted((r.k, r.v) for r in high.collect()) == [
        (0, 9999.0), (1, 9998.0)
    ]

    # delete leaves a stale-superset zone: filter still exact
    delete_keyed(spark, path, spark.createDataFrame([(0,)], "k long"))
    high2 = read_keyed(spark, path, zone_filter=("v", 9000.0, None))
    assert [(r.k, r.v) for r in high2.collect()] == [(1, 9998.0)]

    # open-ended low bound
    low = read_keyed(spark, path, zone_filter=("v", None, 95.0))
    assert sorted(r.k for r in low.collect()) == list(range(2, 10))


def test_zone_map_misuse_paths(spark, tmp_path):
    from cascading_hbase_spark.keyed.table import read_keyed, write_keyed

    path = str(tmp_path / "zt2")
    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="zone_cols not in batch"):
        write_keyed(df, path, "k", zone_cols=["nope"])
    write_keyed(df, path, "k", zone_cols=["v"])
    with pytest.raises(ValueError, match="fixed at table creation"):
        write_keyed(
            spark.createDataFrame([(2, 3.0)], "k long, v double"),
            path, "k", zone_cols=["k"],
        )
    with pytest.raises(ValueError, match="non-key columns"):
        read_keyed(spark, path, zone_filter=("k", 0, 1))


def test_describe_keyed_reports_buckets_and_zones(spark, tmp_path):
    from cascading_hbase_spark.keyed.table import describe_keyed, write_keyed

    path = str(tmp_path / "dk")
    write_keyed(
        spark.createDataFrame(
            [(k, k * 2.0) for k in range(40)], "k long, v double"
        ),
        path, "k", n_buckets=4, zone_cols=["v"],
    )
    rows = describe_keyed(spark, path).collect()
    assert len(rows) >= 2                      # several live buckets
    assert all(r.n_files >= 1 and r.n_bytes > 0 for r in rows)
    assert all(r.zone_ranges is not None for r in rows)
    import json as _json
    z0 = _json.loads(rows[0].zone_ranges)
    assert "v" in z0 and z0["v"][0] <= z0["v"][1]
    # key bounds come from the manifest boundaries (interior buckets
    # have both; the ends are open)
    assert rows[0].key_lo is None and rows[-1].key_hi is None


def test_vacuum_keyed_reclaims_old_generations(spark, tmp_path):
    from cascading_hbase_spark.keyed.table import (
        read_keyed, vacuum_keyed, write_keyed,
    )

    path = str(tmp_path / "vk")
    write_keyed(
        spark.createDataFrame([(1, 1.0)], "k long, v double"),
        path, "k", n_buckets=1, retain=10,
    )
    for i in range(2, 6):
        write_keyed(
            spark.createDataFrame([(1, float(i))], "k long, v double"),
            path, "k",
        )

    def n_gen_dirs():
        base = os.path.join(path, "_kt_bucket=0")
        return len([d for d in os.listdir(base) if d.startswith("_kt_gen=")])

    before = n_gen_dirs()
    assert before >= 4                       # retain=10 kept them all
    vacuum_keyed(path, retain=1)
    assert n_gen_dirs() == 1                 # only the current snapshot
    got = read_keyed(spark, path).collect()  # current read still exact
    assert [(r.k, r.v) for r in got] == [(1, 5.0)]
    # standing policy untouched: another write still honors retain=10
    write_keyed(
        spark.createDataFrame([(1, 6.0)], "k long, v double"), path, "k"
    )
    assert n_gen_dirs() == 2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        vacuum_keyed(path, retain=0)


def test_vacuum_horizon_is_deterministic_for_shared_pointer_commits(
    spark, tmp_path
):
    """A commit that changes NO bucket pointers (here: a delete routed
    entirely to empty buckets) shares every generation directory with
    its predecessor, so vacuum's file GC alone leaves the older
    snapshot physically readable.  The recorded vacuum horizon must
    make the time-travel read fail loudly anyway — the r06 falsifier
    of test_vacuum_preserves_current_snapshot, as a directed case."""
    from cascading_hbase_spark.keyed.table import (
        delete_keyed, list_generations, read_keyed, rollback_keyed,
        vacuum_keyed, write_keyed,
    )

    path = str(tmp_path / "vh")
    write_keyed(
        spark.createDataFrame([(9, 1.0)], "k long, v double"),
        path, "k", retain=10,
    )
    # every delete key routes to a bucket with no data: the commit
    # reuses its predecessor's pointers verbatim
    delete_keyed(
        spark, path, spark.createDataFrame([(0,), (1,)], "k long")
    )
    gens = list_generations(path)
    assert len(gens) == 2
    vacuum_keyed(path, retain=1)
    # current read intact...
    assert [(r.k, r.v) for r in read_keyed(spark, path).collect()] == [(9, 1.0)]
    # ...older generation refuses deterministically even though its
    # files are still on disk (shared with the retained snapshot)
    with pytest.raises(FileNotFoundError, match="garbage-collected"):
        read_keyed(spark, path, generation=gens[0])
    # rollback below the horizon refuses for the same reason
    with pytest.raises(FileNotFoundError, match="garbage-collected"):
        rollback_keyed(path, gens[0])
    # the horizon survives a legal rollback-to-current-window commit
    write_keyed(
        spark.createDataFrame([(9, 2.0)], "k long, v double"), path, "k"
    )
    rollback_keyed(path, gens[-1])
    with pytest.raises(FileNotFoundError, match="garbage-collected"):
        read_keyed(spark, path, generation=gens[0])


def test_vacuum_persists_horizon_before_gc(spark, tmp_path, monkeypatch):
    """A crash between vacuum's two steps must leave sub-horizon
    generations loudly unreadable — so the horizon is saved FIRST and
    only then files are deleted (ADVICE r07: the old order re-opened
    the exact silent-readability window the horizon exists to close).
    GC is idempotent under the writer lock, so the next vacuum/commit
    collects what the crashed one left behind."""
    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "crash")
    kt.write_keyed(
        spark.createDataFrame([(1, 1.0)], "k long, v double"),
        path, "k", retain=10,
    )
    kt.write_keyed(
        spark.createDataFrame([(1, 2.0)], "k long, v double"), path, "k"
    )
    gens = kt.list_generations(path)
    assert len(gens) == 2

    def boom(*a, **kw):
        raise RuntimeError("simulated crash mid-vacuum")

    monkeypatch.setattr(kt, "_gc_orphans", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        kt.vacuum_keyed(path, retain=1)
    monkeypatch.undo()

    # the horizon landed before the crash: the old generation refuses
    # deterministically even though its files were never deleted
    with pytest.raises(FileNotFoundError, match="garbage-collected"):
        kt.read_keyed(spark, path, generation=gens[0])
    # current snapshot unharmed; a re-run vacuum completes the GC
    assert [r.v for r in kt.read_keyed(spark, path).collect()] == [2.0]
    kt.vacuum_keyed(path, retain=1)
    assert [r.v for r in kt.read_keyed(spark, path).collect()] == [2.0]


def test_time_travel_nonexistent_generation_says_no_such_snapshot(
    spark, tmp_path
):
    """generation=0, negative, or beyond the current version is 'no
    such snapshot', not 'garbage-collected' (ADVICE r07: the horizon
    check used to claim GC for generations that never existed)."""
    from cascading_hbase_spark.keyed.table import read_keyed, write_keyed

    path = str(tmp_path / "nosnap")
    write_keyed(
        spark.createDataFrame([(1, 1.0)], "k long, v double"), path, "k"
    )
    for g in (0, -3, 99):
        with pytest.raises(FileNotFoundError) as ei:
            read_keyed(spark, path, generation=g)
        assert "no snapshot" in str(ei.value)
        assert "garbage-collected" not in str(ei.value)


def test_changefeed_silent_on_identical_payload_reingest(spark, tmp_path):
    """Re-ingesting identical payload under a fresh seq must yield an
    EMPTY feed: the registered seq_col is the HBase-timestamp analogue
    (metadata, not payload), so an idempotent ingest re-run costs
    downstream consumers nothing instead of re-triggering all of them
    (round-8 explore-profile falsifier, directed form)."""
    from cascading_hbase_spark.keyed.table import changefeed_keyed, write_keyed

    path = str(tmp_path / "cfseq")
    rows = [(1, 10, 0), (2, 20, 1)]
    write_keyed(
        spark.createDataFrame(rows, "key long, val long, seq long"),
        path, "key", seq_col="seq", retain=10,
    )
    # identical payload, new seq values — a blind re-run of the ingest
    write_keyed(
        spark.createDataFrame([(1, 10, 0), (2, 20, 1)],
                              "key long, val long, seq long"),
        path, "key", seq_col="seq",
    )
    assert changefeed_keyed(spark, path, 1, 2).count() == 0

    # a real payload change on ONE key is still reported — and the
    # emitted row carries the seq column (excluded from detection only)
    write_keyed(
        spark.createDataFrame([(1, 10, 7), (2, 99, 8)],
                              "key long, val long, seq long"),
        path, "key", seq_col="seq",
    )
    feed = changefeed_keyed(spark, path, 2, 3).collect()
    assert [(r.key, r._change, r.val, r.seq) for r in feed] == [
        (2, "update", 99, 8)
    ]


def test_meta_extra_cannot_shadow_seq_col(spark, tmp_path):
    """seq_col is an engine manifest key: meta_extra silently
    overriding it would redirect changefeed's change detection onto a
    payload column — rows whose real payload changed would vanish from
    the feed with no error anywhere downstream."""
    from cascading_hbase_spark.keyed.table import write_keyed

    df = spark.createDataFrame([(1, 10, 0)], "key long, val long, seq long")
    with pytest.raises(ValueError, match="seq_col"):
        write_keyed(df, str(tmp_path / "shadow"), "key",
                    seq_col="seq", meta_extra={"seq_col": "val"})


def test_changefeed_uses_registration_at_to_generation(spark, tmp_path):
    """A later seq_col re-registration must not retroactively change
    which column a HISTORICAL diff classifies on: the feed for
    (1, 2) consults the manifest snapshot at generation 2, so an
    identical-payload reingest stays silent even after generation 3
    re-registered a different version-token column."""
    from cascading_hbase_spark.keyed.table import changefeed_keyed, write_keyed

    path = str(tmp_path / "cfhist")
    write_keyed(
        spark.createDataFrame([(1, 10, 0), (2, 20, 1)],
                              "key long, val long, seq long"),
        path, "key", seq_col="seq", retain=10,
    )
    # gen 2: identical payload, fresh seq (idempotent re-run)
    write_keyed(
        spark.createDataFrame([(1, 10, 5), (2, 20, 6)],
                              "key long, val long, seq long"),
        path, "key", seq_col="seq",
    )
    # gen 3 re-registers the version token onto a DIFFERENT column
    write_keyed(
        spark.createDataFrame([(1, 10, 5), (2, 20, 6)],
                              "key long, val long, seq long"),
        path, "key", seq_col="val",
    )
    # historical range: registration in effect at gen 2 was "seq"
    assert changefeed_keyed(spark, path, 1, 2).count() == 0
    # later range: the new registration applies — seq is payload now,
    # so a seq-only rewrite IS a reported change
    write_keyed(
        spark.createDataFrame([(1, 10, 7), (2, 20, 8)],
                              "key long, val long, seq long"),
        path, "key",
    )
    feed = {(r.key, r._change) for r in
            changefeed_keyed(spark, path, 3, 4).collect()}
    assert feed == {(1, "update"), (2, "update")}


def test_seq_col_registration_sticky_and_clearable(spark, tmp_path):
    """The version-token registration is a table property: writes that
    omit seq_col leave it in effect, and seq_col="" deregisters it
    (the column becomes ordinary payload again)."""
    from cascading_hbase_spark.keyed.table import (
        _load_meta, changefeed_keyed, write_keyed,
    )

    path = str(tmp_path / "cfsticky")
    write_keyed(
        spark.createDataFrame([(1, 10, 0)], "key long, val long, seq long"),
        path, "key", seq_col="seq", retain=10,
    )
    # gen 2 omits seq_col — registration stays, reingest stays silent
    write_keyed(
        spark.createDataFrame([(1, 10, 5)], "key long, val long, seq long"),
        path, "key",
    )
    assert _load_meta(path)["seq_col"] == "seq"
    assert changefeed_keyed(spark, path, 1, 2).count() == 0
    # gen 3 clears the registration
    write_keyed(
        spark.createDataFrame([(1, 10, 6)], "key long, val long, seq long"),
        path, "key", seq_col="",
    )
    assert "seq_col" not in _load_meta(path)
    # gen 4: seq is ordinary payload now — a seq-only change reports
    write_keyed(
        spark.createDataFrame([(1, 10, 9)], "key long, val long, seq long"),
        path, "key",
    )
    assert [(r.key, r._change) for r in
            changefeed_keyed(spark, path, 3, 4).collect()] == [(1, "update")]


def test_replica_mirrors_primary_seq_col(spark, tmp_path):
    """Replication carries the primary's version-token registration
    (and retain depth): a changefeed taken over the REPLICA classifies
    on payload too, otherwise cascaded replication re-grows the
    update-storm failure one hop downstream."""
    from cascading_hbase_spark.keyed.replica import create_replica, sync_replica
    from cascading_hbase_spark.keyed.table import (
        _load_meta, changefeed_keyed, write_keyed,
    )

    primary = str(tmp_path / "primary")
    replica = str(tmp_path / "replica")
    write_keyed(
        spark.createDataFrame([(1, 10, 0), (2, 20, 1)],
                              "key long, val long, seq long"),
        primary, "key", seq_col="seq", retain=10,
    )
    create_replica(spark, primary, replica)
    rmeta = _load_meta(replica)
    assert rmeta["seq_col"] == "seq"
    assert rmeta["retain"] == 10

    # primary: val 10 -> 20 (seq 5), then back 20 -> 10 (seq 9);
    # sync after each so the replica commits both hops
    write_keyed(
        spark.createDataFrame([(1, 20, 5)], "key long, val long, seq long"),
        primary, "key",
    )
    assert sync_replica(spark, primary, replica)
    write_keyed(
        spark.createDataFrame([(1, 10, 9)], "key long, val long, seq long"),
        primary, "key",
    )
    assert sync_replica(spark, primary, replica)

    # replica gen 1 has (1, 10, seq=0); gen 3 has (1, 10, seq=9):
    # payload identical end-to-end, only the version token differs —
    # a cascaded feed over the replica must be EMPTY for key 1
    assert changefeed_keyed(spark, replica, 1, 3).count() == 0
    # the intermediate hop is still a genuine payload change
    assert [(r.key, r._change, r.val) for r in
            changefeed_keyed(spark, replica, 1, 2).collect()] == [
        (1, "update", 20)
    ]


def test_clone_carries_table_policies(spark, tmp_path):
    """A clone is a fresh table, but table-level POLICIES carry over:
    version-token registration (changefeeds over the clone classify on
    payload), zone-map columns, and row TTL.  Only layout and history
    restart."""
    import time as _time

    from cascading_hbase_spark.keyed.table import (
        _load_meta, changefeed_keyed, clone_keyed, set_ttl, write_keyed,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    now = _time.time()
    write_keyed(
        spark.createDataFrame([(1, 10, 0, now), (2, 20, 1, now)],
                              "key long, val long, seq long, ts double"),
        src, "key", seq_col="seq", zone_cols=["val"], retain=10,
    )
    set_ttl(src, "ts", 3600.0)
    clone_keyed(spark, src, dst, retain=10)

    cmeta = _load_meta(dst)
    assert cmeta["seq_col"] == "seq"
    assert cmeta["zone_cols"] == ["val"]
    assert cmeta["ttl"] == {"col": "ts", "seconds": 3600.0}

    # the carried registration is live: an identical-payload reingest
    # under fresh seqs is SILENT on the clone
    base = cmeta["version"]
    write_keyed(
        spark.createDataFrame([(1, 10, 9, now), (2, 20, 8, now)],
                              "key long, val long, seq long, ts double"),
        dst, "key",
    )
    assert changefeed_keyed(spark, dst, base, base + 1).count() == 0


def test_changefeed_token_only_table(spark, tmp_path):
    """A table whose ONLY non-key column is the registered version
    token has no payload: updates are impossible by definition, and
    the diff must not crash trying to drop every field of the compare
    struct (review finding: CANNOT_DROP_ALL_FIELDS)."""
    from cascading_hbase_spark.keyed.table import changefeed_keyed, write_keyed

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame([(1, 0), (2, 1)], "key long, seq long"),
        path, "key", seq_col="seq",
    )
    # token-only rewrite of key 1 + genuine insert of key 3
    write_keyed(
        spark.createDataFrame([(1, 5), (3, 6)], "key long, seq long"),
        path, "key",
    )
    feed = {(r.key, r._change) for r in
            changefeed_keyed(spark, path, 1, 2).collect()}
    assert feed == {(3, "insert")}


def test_dotted_identifier_names_rejected_at_boundary(spark, tmp_path):
    """Dotted (or backticked) top-level names for key/seq_col/zone_cols
    are parsed as nesting/quoting by the identifier-based expressions
    the keyed layer builds (LWW ordering, bucketing, zone maps,
    changefeed dropFields) — they have never worked, so the boundary
    rejects them with a clear error instead of a mid-job
    AnalysisException deep in the merge (review finding)."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.table import write_keyed

    path = str(tmp_path / "t")
    dotted = spark.createDataFrame(
        [(1, 10, 0)], ["key", "val", "x"]
    ).withColumnRenamed("x", "ingest.seq")
    with _pytest.raises(ValueError, match="identifier-safe"):
        write_keyed(dotted, path, "key", seq_col="ingest.seq")
    with _pytest.raises(ValueError, match="identifier-safe"):
        write_keyed(
            dotted.withColumnRenamed("ingest.seq", "a`b"), path, "key",
            zone_cols=["a`b"],
        )
    keyed_dotted = dotted.withColumnRenamed("key", "k.id")
    with _pytest.raises(ValueError, match="identifier-safe"):
        write_keyed(keyed_dotted, path, "k.id")


def test_bad_seq_col_fails_fast_without_flipping_registration(spark, tmp_path):
    """A write naming a seq_col that is not a column of the batch (or
    is the key) must raise BEFORE any manifest mutation — the table's
    existing registration survives untouched (review finding: the
    registration flip was persisted by the early pre-publish save)."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.table import (
        _load_meta, merge_keyed, write_keyed,
    )

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame([(1, 10, 0)], "key long, val long, seq long"),
        path, "key", seq_col="seq",
    )
    v0 = _load_meta(path)["version"]
    batch = spark.createDataFrame([(2, 20, 1)], "key long, val long, seq long")
    with _pytest.raises(ValueError, match="seq_col"):
        write_keyed(batch, path, "key", seq_col="typo")
    with _pytest.raises(ValueError, match="seq_col"):
        write_keyed(batch, path, "key", seq_col="key")
    with _pytest.raises(ValueError, match="seq_col"):
        merge_keyed(
            spark, path,
            batch.withColumn("_change", batch.key * 0).selectExpr(
                "key", "val", "seq", "'insert' as _change"
            ),
            seq_col="typo",
        )
    meta = _load_meta(path)
    assert meta["seq_col"] == "seq"
    assert meta["version"] == v0  # nothing committed
    assert meta["next_seq"] == 1  # not even the early seq bump landed


def test_write_keyed_ttl_param_validation(spark, tmp_path):
    """The creation-only ttl parameter validates shape and column
    membership before touching anything."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.table import write_keyed

    df = spark.createDataFrame([(1, 1.0)], "key long, ts double")
    for bad in [{"col": "nope", "seconds": 1.0}, {"col": "ts"}, "ts"]:
        with _pytest.raises(ValueError, match="ttl"):
            write_keyed(df, str(tmp_path / "t"), "key", ttl=bad)


def test_write_keyed_ttl_rejected_on_existing_table(spark, tmp_path):
    """ttl is fixed at creation (like zone_cols): an APPEND to an
    existing table passing ttl= must raise and point at set_ttl, not
    silently drop the policy (the caller would believe rows expire)."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.table import (
        SinkMode, _load_meta, write_keyed,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1.0)], "key long, ts double")
    write_keyed(df, path, "key")
    v0 = _load_meta(path)["version"]
    with _pytest.raises(ValueError, match="set_ttl"):
        write_keyed(
            df, path, "key",
            mode=SinkMode.APPEND, ttl={"col": "ts", "seconds": 60.0},
        )
    meta = _load_meta(path)
    assert "ttl" not in meta
    assert meta["version"] == v0  # nothing committed
    # REPLACE recreates the table, so ttl is legal there
    write_keyed(
        df, path, "key", mode=SinkMode.REPLACE,
        ttl={"col": "ts", "seconds": 60.0},
    )
    assert _load_meta(path)["ttl"] == {"col": "ts", "seconds": 60.0}


def test_index_lookup_value_string_form_matches_cast(spark, tmp_path):
    """The lookup prefix must use Spark's CAST(... AS STRING) form, not
    Python str(): str(True) is 'True' but the index keys were built
    with 'true' (review finding: silent empty result)."""
    from cascading_hbase_spark.keyed.index import create_index, index_lookup

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame(
            [(1, True), (2, False), (3, True)], "key long, flag boolean"
        ),
        path, "key",
    )
    create_index(spark, path, "flag")
    assert {r.key for r in index_lookup(spark, path, "flag", True).collect()} \
        == {1, 3}


def test_index_point_in_time_lookup_reads_build_snapshot(spark, tmp_path):
    """check_fresh=False resolves against the snapshot the index was
    built from: a later commit that rewrites an indexed row to a
    DIFFERENT value must not surface the new row under the old value
    (review finding: the stale ref keys were joined into the CURRENT
    table)."""
    from cascading_hbase_spark.keyed.index import create_index, index_lookup

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame(
            [(1, "red"), (2, "blue")], "key long, color string"
        ),
        path, "key", retain=5,
    )
    create_index(spark, path, "color")
    # rewrite key 1 to a different indexed value
    write_keyed(
        spark.createDataFrame([(1, "green")], "key long, color string"),
        path, "key",
    )
    rows = index_lookup(spark, path, "color", "red", check_fresh=False).collect()
    # point-in-time: key 1 as of the BUILD snapshot, still 'red'
    assert [(r.key, r.color) for r in rows] == [(1, "red")]


def test_index_detects_replaced_table(spark, tmp_path):
    """A REPLACE restarts the version counter; an index surviving it
    must raise even when the rebuilt table reaches the stamped version
    number, and even with check_fresh=False (review finding: silently
    wrong rows)."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.index import (
        StaleIndexError, create_index, index_lookup,
    )

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame([(1, "a")], "key long, cat string"),
        path, "key",
    )
    create_index(spark, path, "cat")
    # REPLACE with different data; version counter restarts at 1
    write_keyed(
        spark.createDataFrame([(9, "a")], "key long, cat string"),
        path, "key", mode=SinkMode.REPLACE,
    )
    with _pytest.raises(StaleIndexError, match="incarnation|replaced"):
        index_lookup(spark, path, "cat", "a")
    with _pytest.raises(StaleIndexError, match="incarnation|replaced"):
        index_lookup(spark, path, "cat", "a", check_fresh=False)


def test_index_lookup_includes_astral_rowkeys(spark, tmp_path):
    """The range-scan stop bound is value+'\\x01' (the tightest bound
    over value+'\\x00'+rowkey), so rowkeys starting with a code point
    above U+FFFF are included (review finding: a '\\uffff' sentinel
    dropped them)."""
    from cascading_hbase_spark.keyed.index import create_index, index_lookup

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame(
            [("\U0001F600smile", "x"), ("plain", "x")], "key string, cat string"
        ),
        path, "key",
    )
    create_index(spark, path, "cat")
    assert index_lookup(spark, path, "cat", "x").count() == 2


def test_replica_carries_policies_and_detects_replace(spark, tmp_path):
    """create_replica carries the primary's table-level policies
    (families, zone maps, TTL — without its own TTL a replica serves
    rows that expired between syncs forever, since the diff never sees
    them) and sync detects a REPLACEd primary as StaleReplicaError,
    not a FileNotFoundError crash (review findings)."""
    import time as _time

    import pytest as _pytest

    from cascading_hbase_spark.keyed.replica import (
        StaleReplicaError, create_replica, sync_replica,
    )
    from cascading_hbase_spark.keyed.table import _load_meta, set_ttl

    primary = str(tmp_path / "p")
    replica = str(tmp_path / "r")
    now = _time.time()
    write_keyed(
        spark.createDataFrame(
            [(1, 10, now)], "key long, val long, ts double"
        ),
        primary, "key", zone_cols=["val"],
        families={"val": "metrics"},
    )
    set_ttl(primary, "ts", 3600.0)
    create_replica(spark, primary, replica)
    rmeta = _load_meta(replica)
    assert rmeta["zone_cols"] == ["val"]
    assert rmeta["ttl"] == {"col": "ts", "seconds": 3600.0}
    assert rmeta["families"]["val"] == "metrics"
    # REPLACE the primary: the cursor now names a dead incarnation
    write_keyed(
        spark.createDataFrame(
            [(2, 20, now)], "key long, val long, ts double"
        ),
        primary, "key", mode=SinkMode.REPLACE,
    )
    write_keyed(  # bring the new incarnation to the cursor's version
        spark.createDataFrame(
            [(3, 30, now)], "key long, val long, ts double"
        ),
        primary, "key",
    )
    with _pytest.raises(StaleReplicaError, match="replaced"):
        sync_replica(spark, primary, replica)


def test_pre_of_id_replica_always_raises_rebuild_signal(
    spark, tmp_path
):
    """A replica seeded before the of_id stamp existed must raise the
    rebuild signal EVEN when its cursor equals the primary version:
    version-count equality cannot prove lineage — a REPLACEd primary
    whose new incarnation's count happens to reach the cursor would
    otherwise adopt a stale replica as current and stamp the wrong
    incarnation (r10 ADVICE; supersedes the r09 stamp-when-current
    rule; mirrors the matview twin).  Rebuild is one-time thanks to
    the every-commit table_id backfill."""
    import os

    import pytest as _pytest

    from cascading_hbase_spark.keyed.controlplane import get_control_plane
    from cascading_hbase_spark.keyed.replica import (
        StaleReplicaError, create_replica, sync_replica,
    )
    from cascading_hbase_spark.keyed.table import _load_meta

    primary = str(tmp_path / "p")
    replica = str(tmp_path / "r")
    write_keyed(
        spark.createDataFrame([(1, 10)], "key long, val long"),
        primary, "key", retain=10,
    )
    create_replica(spark, primary, replica)
    cp = get_control_plane()
    mp = os.path.join(replica, "_kt_meta.json")

    def _devolve():
        meta = cp.read_json(mp)
        meta["replica"].pop("of_id", None)
        cp.write_json_atomic(mp, meta)

    _devolve()
    # cursor == primary version is NOT adopted: rebuild signal
    with _pytest.raises(StaleReplicaError, match="predates incarnation"):
        sync_replica(spark, primary, replica)
    # rebuild stamps; the replica then syncs normally
    create_replica(spark, primary, replica)
    assert (
        cp.read_json(mp)["replica"]["of_id"]
        == _load_meta(primary).get("table_id")
    )
    write_keyed(
        spark.createDataFrame([(2, 20)], "key long, val long"),
        primary, "key", mode=SinkMode.APPEND,
    )
    assert sync_replica(spark, primary, replica) is True
    assert read_keyed(spark, replica).count() == 2
    # devolve AGAIN while behind: same rebuild signal
    _devolve()
    write_keyed(
        spark.createDataFrame([(3, 30)], "key long, val long"),
        primary, "key", mode=SinkMode.APPEND,
    )
    with _pytest.raises(StaleReplicaError, match="predates incarnation"):
        sync_replica(spark, primary, replica)
    # rebuild is the documented recovery
    create_replica(spark, primary, replica)
    assert read_keyed(spark, replica).count() == 3


def test_replica_vacuumed_cursor_raises_stale_not_filenotfound(spark, tmp_path):
    """A vacuum that collects the replica's cursor generation must
    surface as the documented StaleReplicaError rebuild signal, not a
    FileNotFoundError from deep inside the diff (review finding: the
    gate checked only retain depth, not vacuum_horizon)."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.replica import (
        StaleReplicaError, create_replica, sync_replica,
    )
    from cascading_hbase_spark.keyed.table import vacuum_keyed

    primary = str(tmp_path / "p")
    replica = str(tmp_path / "r")
    write_keyed(
        spark.createDataFrame([(1, 10)], "key long, val long"),
        primary, "key", retain=10,
    )
    create_replica(spark, primary, replica)
    write_keyed(
        spark.createDataFrame([(2, 20)], "key long, val long"),
        primary, "key",
    )
    vacuum_keyed(primary, retain=1)  # horizon passes the cursor
    with _pytest.raises(StaleReplicaError, match="horizon"):
        sync_replica(spark, primary, replica)


def test_validated_write_pins_nondeterministic_batch(spark, tmp_path):
    """write_keyed_validated evaluates the batch for the fail probe,
    the quarantine write and the keyed write; a non-deterministic input
    plan must be pinned once so a row cannot pass the gate yet commit
    violating, or land in both quarantine and the table (review
    finding).  The assertion is an invariant that must hold on EVERY
    run: no committed row violates the drop expectation."""
    import pyspark.sql.functions as F

    from cascading_hbase_spark.keyed.expectations import (
        Expectation, write_keyed_validated,
    )
    from cascading_hbase_spark.keyed.table import read_keyed

    path = str(tmp_path / "t")
    qdir = str(tmp_path / "q")
    df = (
        spark.range(500).withColumnRenamed("id", "key")
        .withColumn("score", F.rand(seed=None))
    )
    write_keyed_validated(
        df, path, "key",
        [Expectation("score_ok", "score < 0.5", "quarantine")],
        quarantine_path=qdir,
    )
    table = read_keyed(spark, path)
    assert table.filter("score >= 0.5").count() == 0
    quarantined = spark.read.parquet(qdir)
    # exact partition: every input key is in exactly one place
    assert table.count() + quarantined.count() == 500
    assert table.join(
        quarantined, "key", "inner"
    ).count() == 0


def test_index_lookup_null_value_raises(spark, tmp_path):
    """NULLs are not indexed, so a NULL lookup raises a clear error
    instead of TypeError-ing on prefix concatenation."""
    import pytest as _pytest

    from cascading_hbase_spark.keyed.index import create_index, index_lookup

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame([(1, "a")], "key long, cat string"),
        path, "key",
    )
    create_index(spark, path, "cat")
    with _pytest.raises(ValueError, match="NULL"):
        index_lookup(spark, path, "cat", None)


def test_index_lookup_casts_value_through_column_type(spark, tmp_path):
    """The lookup prefix is the value cast through the indexed COLUMN's
    type then to string — a Python literal's inferred type is not
    enough (review finding: Decimal('1.5') infers decimal(2,1) -> '1.5'
    while a decimal(10,2) column stored '1.50'; int 1 -> '1' while a
    double column stored '1.0'; both silently returned zero rows)."""
    from decimal import Decimal

    from pyspark.sql.types import (
        DecimalType, DoubleType, LongType, StructField, StructType,
    )

    from cascading_hbase_spark.keyed.index import create_index, index_lookup

    path = str(tmp_path / "t")
    schema = StructType([
        StructField("key", LongType()),
        StructField("price", DecimalType(10, 2)),
        StructField("ratio", DoubleType()),
    ])
    write_keyed(
        spark.createDataFrame(
            [(1, Decimal("1.50"), 1.0), (2, Decimal("2.25"), 2.5)], schema
        ),
        path, "key",
    )
    create_index(spark, path, "price")
    create_index(spark, path, "ratio")
    assert [r.key for r in
            index_lookup(spark, path, "price", Decimal("1.5")).collect()] == [1]
    # int probe on a double column: stored form is '1.0', not '1'
    assert [r.key for r in
            index_lookup(spark, path, "ratio", 1).collect()] == [1]


def test_index_lookup_keeps_broadcast_hint_without_aqe(spark, tmp_path):
    """With AQE disabled there is no runtime re-plan, so the key-set
    side keeps an explicit broadcast hint — an unhinted semi-join
    would shuffle the entire main table for one selective lookup
    (review finding)."""
    from cascading_hbase_spark.keyed.index import create_index, index_lookup

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame([(1, "a"), (2, "b")], "key long, cat string"),
        path, "key",
    )
    create_index(spark, path, "cat")
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = index_lookup(spark, path, "cat", "a")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert [r.key for r in df.collect()] == [1]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_replica_history_pruned_cursor_raises_stale(spark, tmp_path, monkeypatch):
    """A cursor whose manifest snapshot fell off the HISTORY_KEEP log
    (deep-retain table, many commits) must surface as StaleReplicaError,
    not FileNotFoundError — the horizon gate alone cannot see manifest
    pruning (review finding)."""
    import pytest as _pytest

    import cascading_hbase_spark.keyed.table as kt
    from cascading_hbase_spark.keyed.replica import (
        StaleReplicaError, create_replica, sync_replica,
    )

    monkeypatch.setattr(kt, "HISTORY_KEEP", 3)
    primary = str(tmp_path / "p")
    replica = str(tmp_path / "r")
    write_keyed(
        spark.createDataFrame([(1, 10)], "key long, val long"),
        primary, "key", retain=100,
    )
    create_replica(spark, primary, replica)
    for i in range(5):  # prune the v1 manifest out of the history log
        write_keyed(
            spark.createDataFrame([(i + 2, 10)], "key long, val long"),
            primary, "key",
        )
    with _pytest.raises(StaleReplicaError, match="no longer readable"):
        sync_replica(spark, primary, replica)


def test_commit_backfills_missing_table_id(spark, tmp_path):
    """Tables created before incarnation ids existed have no table_id;
    every commit must backfill one so the replica/matview None-
    incarnation gates converge (one rebuild) instead of looping
    forever on an id-less base (r10 review)."""
    from cascading_hbase_spark.keyed.controlplane import get_control_plane
    from cascading_hbase_spark.keyed.table import _load_meta

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame([(1, 10)], "key long, val long"),
        path, "key",
    )
    cp = get_control_plane()
    mp = path + "/_kt_meta.json"
    meta = cp.read_json(mp)
    meta.pop("table_id", None)  # devolve to the pre-id manifest shape
    cp.write_json_atomic(mp, meta)
    assert _load_meta(path).get("table_id") is None
    write_keyed(
        spark.createDataFrame([(2, 20)], "key long, val long"),
        path, "key", mode=SinkMode.APPEND,
    )
    assert _load_meta(path).get("table_id") is not None


# ---------------------------------------------------------------------------
# incremental index refresh (r11): O(changed rows), not O(table)
# ---------------------------------------------------------------------------


def test_refresh_index_is_incremental_and_exact(spark, tmp_path):
    """refresh_index applies only the changefeed delta — one MERGE
    commit on the index table (a rebuild would REPLACE it) — and the
    result is exact under every delta shape at once: a value-moving
    update (old entry removed, new added), an index-SILENT update
    (other column only: costs the index nothing), an insert, and a
    delete.  An index-silent interval still advances the stamp so the
    freshness check passes."""
    from cascading_hbase_spark.keyed.index import (
        _index_path, create_index, index_lookup, refresh_index,
    )
    from cascading_hbase_spark.keyed.table import table_version

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "red", 10), (2, "blue", 20), (3, "red", 30)],
        "key long, color string, v long",
    )
    write_keyed(df, path, "key", retain=10)
    create_index(spark, path, "color")
    ipath = _index_path(path, "color")
    iv0 = table_version(ipath)
    write_keyed(
        spark.createDataFrame(
            [(2, "red", 20), (3, "red", 99), (4, "green", 40)],
            "key long, color string, v long",
        ),
        path, "key", mode=SinkMode.APPEND,
    )
    delete_keyed(spark, path, spark.createDataFrame([(1,)], "key long"))
    refresh_index(spark, path, "color")
    assert table_version(ipath) == iv0 + 1  # ONE merge, not a REPLACE
    assert sorted(
        r.key for r in index_lookup(spark, path, "color", "red").collect()
    ) == [2, 3]
    assert sorted(
        r.key for r in index_lookup(spark, path, "color", "green").collect()
    ) == [4]
    assert index_lookup(spark, path, "color", "blue").count() == 0
    # index-silent wave: stamp advances (freshness holds), values exact
    write_keyed(
        spark.createDataFrame([(2, "red", 77)], "key long, color string, v long"),
        path, "key", mode=SinkMode.APPEND,
    )
    refresh_index(spark, path, "color")
    assert sorted(
        r.key for r in index_lookup(spark, path, "color", "red").collect()
    ) == [2, 3]
    # already current: no commit at all
    v = table_version(ipath)
    refresh_index(spark, path, "color")
    assert table_version(ipath) == v


def test_refresh_index_falls_back_to_rebuild(spark, tmp_path):
    """The rebuild-signal taxonomy resolves to an automatic full
    rebuild: a REPLACEd main table (incarnation mismatch) and a stamp
    below the readable horizon both produce a correct index via
    create_index instead of diffing unprovable history."""
    from cascading_hbase_spark.keyed.index import (
        create_index, index_lookup, refresh_index,
    )
    from cascading_hbase_spark.keyed.table import vacuum_keyed

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame([(1, "red", 1)], "key long, color string, v long"),
        path, "key", retain=10,
    )
    create_index(spark, path, "color")
    write_keyed(
        spark.createDataFrame([(9, "black", 9)], "key long, color string, v long"),
        path, "key", mode=SinkMode.REPLACE, retain=10,
    )
    refresh_index(spark, path, "color")  # incarnation mismatch -> rebuild
    assert sorted(
        r.key for r in index_lookup(spark, path, "color", "black").collect()
    ) == [9]
    assert index_lookup(spark, path, "color", "red").count() == 0
    # stamp below the vacuum horizon -> rebuild
    for i in range(3):
        write_keyed(
            spark.createDataFrame(
                [(10 + i, "white", i)], "key long, color string, v long"
            ),
            path, "key", mode=SinkMode.APPEND,
        )
    vacuum_keyed(path, retain=1)
    refresh_index(spark, path, "color")
    assert sorted(
        r.key for r in index_lookup(spark, path, "color", "white").collect()
    ) == [10, 11, 12]


def test_batch_changefeed_prunes_untouched_buckets(spark, tmp_path):
    """The batch diff reads ONLY buckets whose generation pointer moved
    between the two snapshots (r11, ported from the streaming source's
    planner) — proven by the plan's input files — and falls back to
    the full read when a re-bucketing compaction remapped key ranges
    in between (still zero spurious diff rows)."""
    from cascading_hbase_spark.keyed.table import (
        changefeed_keyed, compact_keyed,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "key long, val string"
    )
    write_keyed(df, path, "key", n_buckets=4, retain=10)           # v1
    write_keyed(
        spark.createDataFrame([(3, "X")], "key long, val string"),
        path, "key", mode=SinkMode.APPEND,
    )                                                              # v2
    feed = changefeed_keyed(spark, path, 1, to_generation=2)
    assert sorted((r.key, r._change, r.val) for r in feed.collect()) == [
        (3, "update", "X"),
    ]
    buckets = {
        f.split("_kt_bucket=")[1].split("/")[0] for f in feed.inputFiles()
    }
    assert buckets == {"0"}, buckets  # 1 of 4 buckets touched -> 1 read
    delete_keyed(spark, path, spark.createDataFrame([(99,)], "key long"))  # v3
    feed2 = changefeed_keyed(spark, path, 1, to_generation=3,
                             include_old=True)
    assert sorted((r.key, r._change) for r in feed2.collect()) == [
        (3, "update"), (99, "delete"),
    ]
    b2 = {
        f.split("_kt_bucket=")[1].split("/")[0] for f in feed2.inputFiles()
    }
    assert b2 == {"0", "3"}, b2
    # identical-pointer interval: zero buckets read, zero rows
    assert changefeed_keyed(spark, path, 2, to_generation=2).count() == 0
    # re-bucketing compaction remaps ranges: full-read fallback, and
    # the payload-identical rewrite is still a silent feed
    compact_keyed(spark, path, n_buckets=2)                        # v4
    assert changefeed_keyed(spark, path, 3, to_generation=4).count() == 0


def test_refresh_index_retracts_deletes_unconditionally(spark, tmp_path):
    """A delete row carries the pre-delete payload in-row, so a
    value-moved gate would see old == new and keep the dead index
    entry; when the key is later RE-INSERTED under a different value,
    that stale composite key becomes a false lookup match (the
    semi-join only checks the key is alive).  The incremental refresh
    must retract deletes unconditionally — and leave no garbage row
    in the index table itself."""
    from cascading_hbase_spark.keyed.index import (
        _index_path, create_index, index_lookup, refresh_index,
    )
    from cascading_hbase_spark.keyed.table import read_keyed

    path = str(tmp_path / "t")
    write_keyed(
        spark.createDataFrame(
            [(1, "red", 1), (2, "blue", 2)], "key long, color string, v long"
        ),
        path, "key", retain=10,
    )
    create_index(spark, path, "color")
    delete_keyed(spark, path, spark.createDataFrame([(1,)], "key long"))
    refresh_index(spark, path, "color")
    # the dead entry is gone from the index TABLE, not just masked
    ipath = _index_path(path, "color")
    assert read_keyed(spark, ipath).filter("ref_key = '1'").count() == 0
    # re-insert key 1 under a DIFFERENT value: the old value must not
    # produce a false match
    write_keyed(
        spark.createDataFrame([(1, "green", 9)], "key long, color string, v long"),
        path, "key", mode=SinkMode.APPEND,
    )
    refresh_index(spark, path, "color")
    assert index_lookup(spark, path, "color", "red").count() == 0
    assert sorted(
        r.key for r in index_lookup(spark, path, "color", "green").collect()
    ) == [1]


def test_batch_changefeed_pruning_disabled_across_ttl_change(
    spark, tmp_path
):
    """set_ttl is a META-ONLY commit: no generation pointer moves, yet
    the newly-filtered rows must appear as diff DELETIONS.  The
    touched-bucket pruning therefore requires an identical TTL policy
    at both snapshot versions — without that guard the pruned diff is
    empty and every downstream incremental consumer silently keeps
    expired rows."""
    import time

    from cascading_hbase_spark.keyed.table import changefeed_keyed, set_ttl

    path = str(tmp_path / "t")
    now = time.time()
    df = spark.createDataFrame(
        [(1, "live", now), (2, "old", now - 10_000.0)],
        "key long, val string, ts double",
    )
    write_keyed(df, path, "key", retain=10)                        # v1
    set_ttl(path, "ts", 3_600)                                     # v2
    feed = changefeed_keyed(spark, path, 1, to_generation=2,
                            include_old=True)
    assert sorted((r.key, r._change) for r in feed.collect()) == [
        (2, "delete"),
    ]


def test_batch_changefeed_prunes_across_rebucket(spark, tmp_path):
    """VERDICT r11 item 1: a re-bucketing compaction between the two
    snapshots no longer forces the diff to read BOTH full snapshots.
    The re-bucket commit's content-preservation hint lets the history
    walk (keyed/cdc_prune.py) locate the segments' touched key ranges
    and map them into EACH side's own bucket space — a narrow wave
    after a re-bucket reads a strict subset of buckets on both sides
    (proven by the plan's input files), with identical diff rows."""
    from cascading_hbase_spark.keyed.table import (
        changefeed_keyed, compact_keyed,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "key long, val string"
    )
    write_keyed(df, path, "key", n_buckets=4, retain=10)           # v1
    write_keyed(
        spark.createDataFrame([(3, "X")], "key long, val string"),
        path, "key", mode=SinkMode.APPEND,
    )                                                              # v2
    compact_keyed(spark, path, n_buckets=2)                        # v3
    write_keyed(
        spark.createDataFrame([(90, "Y")], "key long, val string"),
        path, "key", mode=SinkMode.APPEND,
    )                                                              # v4
    # narrow wave ACROSS the re-bucket: only key 90 changed in (2, 4]
    feed = changefeed_keyed(spark, path, 2, to_generation=4)
    assert sorted((r.key, r._change, r.val) for r in feed.collect()) == [
        (90, "update", "Y"),
    ]
    read = {
        tuple(f.split("/_kt_bucket=")[1].split("/")[:2])
        for f in feed.inputFiles()
    }
    # all live (bucket, gen) dirs of the two snapshots = the full read
    full = {
        tuple(f.split("/_kt_bucket=")[1].split("/")[:2])
        for g in (2, 4)
        for f in changefeed_keyed(spark, path, g, to_generation=g)
        .inputFiles()
    }  # empty interval reads nothing; recompute via raw snapshots
    from cascading_hbase_spark.keyed.table import _meta_at, _read_raw

    full = set()
    for g in (2, 4):
        m = _meta_at(path, g)
        for f in _read_raw(spark, path, m).inputFiles():
            full.add(tuple(f.split("/_kt_bucket=")[1].split("/")[:2]))
    assert read < full, (sorted(read), sorted(full))
    # key 90's range maps to 1 of 2 new buckets and 2 of 4 old buckets
    # (the old upper half) — 3 of the 6 live bucket-generation dirs
    assert len(read) <= len(full) // 2, (sorted(read), sorted(full))
    # spanning the re-bucket from BEFORE the pre-compaction update
    # still reports every change exactly once
    feed14 = changefeed_keyed(spark, path, 1, to_generation=4)
    assert sorted((r.key, r._change, r.val) for r in feed14.collect()) == [
        (3, "update", "X"), (90, "update", "Y"),
    ]
    # the re-bucket commit alone remains a silent, zero-read interval
    f34 = changefeed_keyed(spark, path, 2, to_generation=3)
    assert f34.count() == 0 and f34.inputFiles() == []


@localfs_plane_only
def test_changefeed_rebucket_prune_respects_ttl_and_missing_history(
    spark, tmp_path
):
    """The cross-re-bucket walk refuses to prune (falls back to the
    full read, same rows) when a TTL policy change lands inside a
    segment — set_ttl moves no pointer, so pointer-equality proves
    nothing — and when an intermediate history doc is missing."""
    import os as _o
    import time as _t

    from cascading_hbase_spark.keyed.table import (
        changefeed_keyed, compact_keyed, set_ttl,
    )

    path = str(tmp_path / "t")
    now = _t.time()
    df = spark.createDataFrame(
        [(i, f"v{i}", now - (4000 if i < 5 else 0)) for i in range(40)],
        "key long, val string, ts double",
    )
    write_keyed(df, path, "key", n_buckets=4, retain=10)           # v1
    compact_keyed(spark, path, n_buckets=2)                        # v2
    set_ttl(path, "ts", 3600.0)                                    # v3
    write_keyed(
        spark.createDataFrame(
            [(39, "Z", now)], "key long, val string, ts double"
        ),
        path, "key", mode=SinkMode.APPEND,
    )                                                              # v4
    # keys 0..4 aged out via the v3 policy (no pointer moved) and 39
    # changed: the diff must see ALL of it — the TTL guard forces the
    # full read across this interval
    feed = changefeed_keyed(spark, path, 1, to_generation=4)
    got = sorted((r.key, r._change) for r in feed.collect())
    assert got == [(k, "delete") for k in range(5)] + [(39, "update")]
    # missing intermediate history doc: prune falls back, rows intact
    _o.remove(_o.path.join(path, "_kt_history", "v2.json"))
    set_ttl(path, "ts", None)                                      # v5
    compact_keyed(spark, path, n_buckets=3)                        # v6
    feed2 = changefeed_keyed(spark, path, 4, to_generation=6)
    assert sorted((r.key, r._change) for r in feed2.collect()) == [
        (k, "insert") for k in range(5)
    ]


# ---------------------------------------------------------------------------
# Manifest-planned reads: the stored schema is handed to the reader, so
# a pruned read lists only its generation dirs and runs no footer job.
# ---------------------------------------------------------------------------

def _jobs_run(spark, action) -> int:
    """Spark jobs launched by ``action()``, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"kt-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_get_and_bounded_scan_run_one_job(spark, tmp_path):
    """A 3-key multi-get and a bounded range scan each run exactly one
    Spark job: the manifest supplies the schema, so no job infers it
    from the parquet footers."""
    from cascading_hbase_spark.keyed.table import get_keyed

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame(
            [(f"k{i:03d}", i) for i in range(100)], "key string, val int"
        ),
        path, "key", n_buckets=4,
    )
    assert _jobs_run(spark, lambda: None) == 0
    got = []
    n_get = _jobs_run(
        spark,
        lambda: got.extend(get_keyed(spark, path, ["k001", "k050", "k099"]).collect()),
    )
    assert sorted(r["key"] for r in got) == ["k001", "k050", "k099"]
    assert n_get == 1
    scanned = []
    n_scan = _jobs_run(
        spark,
        lambda: scanned.extend(read_keyed(spark, path, start="k010", stop="k020").collect()),
    )
    assert len(scanned) == 10
    assert n_scan == 1


def test_pruned_read_of_pre_evolution_buckets_sees_manifest_schema(spark, tmp_path):
    """After an additive evolution, a get or range read that touches
    only buckets written before it returns the full manifest column
    order with the new column as typed nulls; a time-travel read from
    before the evolution returns the old schema."""
    from pyspark.sql.types import LongType, StringType

    from cascading_hbase_spark.keyed.table import get_keyed

    path = str(tmp_path / "evolve")
    write_keyed(
        spark.createDataFrame(
            [(f"k{i:03d}", i) for i in range(100)], "key string, val int"
        ),
        path, "key", n_buckets=4, retain=10,
    )                                                              # v1
    write_keyed(
        spark.createDataFrame(
            [("k000", 1000, "x", 7)],
            "key string, val int, extra string, n bigint",
        ),
        path, "key",
    )                                                              # v2
    want = ["key", "val", "extra", "n"]
    for df in (
        get_keyed(spark, path, ["k060", "k099"]),
        read_keyed(spark, path, start="k050", stop="k060"),
    ):
        assert df.columns == want
        assert isinstance(df.schema["extra"].dataType, StringType)
        assert isinstance(df.schema["n"].dataType, LongType)
        rows = df.collect()
        assert rows and all(r["extra"] is None and r["n"] is None for r in rows)
    assert get_keyed(spark, path, ["k000"]).collect()[0]["n"] == 7
    old = read_keyed(spark, path, generation=1)
    assert old.columns == ["key", "val"]
    assert old.count() == 100


def test_plain_table_read_schema_unchanged(spark, tmp_path):
    """For a table that never evolved, reads expose exactly the written
    columns and types, in order, with the engine's columns dropped."""
    from cascading_hbase_spark.keyed.table import get_keyed

    path = str(tmp_path / "plain")
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i), [i]) for i in range(20)],
        "k bigint, s string, d double, arr array<int>",
    )
    write_keyed(df, path, "k", n_buckets=2)
    for out in (
        read_keyed(spark, path),
        read_keyed(spark, path, start=3, stop=9),
        get_keyed(spark, path, [4]),
    ):
        assert out.columns == df.columns
        assert out.schema == df.schema
    assert read_keyed(spark, path, fields=["d"]).columns == ["k", "d"]


@localfs_plane_only
def test_legacy_manifest_schema_backfills_from_live_files(spark, tmp_path):
    """A legacy-migrated manifest without a stored schema recovers it
    from the table's files, not from the first batch: a batch that
    omits a column must not hide that column from later reads."""
    import json

    path = str(tmp_path / "legacyschema")
    write_keyed(
        spark.createDataFrame(
            [("a", 1, "x"), ("m", 2, "y")], "key string, val int, extra string"
        ),
        path, "key", n_buckets=2,
    )
    mp = os.path.join(path, "_kt_meta.json")
    with open(mp) as f:
        meta = json.load(f)
    meta.pop("schema")
    with open(mp, "w") as f:
        json.dump(meta, f)
    write_keyed(spark.createDataFrame([("b", 4)], "key string, val int"), path, "key")
    out = read_keyed(spark, path)
    assert out.columns == ["key", "val", "extra"]
    rows = {r["key"]: (r["val"], r["extra"]) for r in out.collect()}
    assert rows == {"a": (1, "x"), "m": (2, "y"), "b": (4, None)}


def test_append_of_wider_type_widens_manifest_schema(spark, tmp_path):
    """A batch whose column is wider than the table's is written at the
    wider type; the manifest records it, so reads of buckets the batch
    never touched widen their older files instead of failing."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    from cascading_hbase_spark.keyed.table import get_keyed, merge_keyed

    def upsert(path, batch):
        write_keyed(batch, path, "k")

    def merge(path, batch):
        merge_keyed(spark, path, batch.withColumn("_change", F.lit("update")))

    for name, write in (("append", upsert), ("merge", merge)):
        path = str(tmp_path / name)
        write_keyed(
            spark.createDataFrame([(i, i) for i in range(40)], "k int, v int"),
            path, "k", n_buckets=4,
        )
        write(path, spark.createDataFrame([(39, 2**40)], "k int, v bigint"))
        out = read_keyed(spark, path)
        assert isinstance(out.schema["v"].dataType, LongType), name
        rows = dict(map(tuple, out.collect()))
        assert rows[39] == 2**40 and rows[0] == 0 and len(rows) == 40, name
        assert get_keyed(spark, path, [1]).collect()[0]["v"] == 1, name


@pytest.fixture(params=["local", "objectstore"])
def plane(request):
    """Run a test on the default plane and again on the object-store
    plane (conditional-PUT manifests, TTL writer lease)."""
    if request.param == "local":
        yield
        return
    from cascading_hbase_spark.keyed.controlplane import use_control_plane
    from cascading_hbase_spark.keyed.objectstore import ObjectStoreControlPlane

    with use_control_plane(ObjectStoreControlPlane()):
        yield


def _collect_sites(spark, action) -> set[str]:
    """Call sites in ``keyed/table.py`` of the ``collect()`` jobs that
    ``action()`` launches, found through a job group (adaptive
    execution may run one collect as several jobs)."""
    import uuid

    sc = spark.sparkContext
    group = f"kt-collect-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    # a skipped stage (its shuffle output reused, no task run) has no
    # StageInfo
    infos = [
        tracker.getStageInfo(s)
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    names = [i.name for i in infos if i is not None]
    return {
        n for n in names
        if n.startswith("collect at ")
        and os.path.join("keyed", "table.py") in n
    }


def test_merge_finds_affected_buckets_without_collect(spark, tmp_path, plane):
    """A MERGE with both upserts and deletes finds the buckets of both
    sides in the job that pins the batch, with no collect of its own,
    and applies delete-then-insert."""
    import pyspark.sql.functions as F

    from cascading_hbase_spark.keyed.table import merge_keyed

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame(
            [(f"k{i:03d}", i) for i in range(100)], "key string, val int"
        ),
        path, "key", n_buckets=4,
    )
    changes = spark.createDataFrame(
        [("k001", 0, "delete"), ("k050", -50, "update"),
         ("k099", 0, "delete"), ("k100", 100, "insert")],
        "key string, val int, _change string",
    )
    sites = _collect_sites(spark, lambda: merge_keyed(spark, path, changes))
    assert sites == set(), sites
    rows = {r["key"]: r["val"] for r in read_keyed(spark, path).collect()}
    assert len(rows) == 99
    assert "k001" not in rows and "k099" not in rows
    assert rows["k050"] == -50 and rows["k100"] == 100 and rows["k002"] == 2
    # a key deleted and upserted in the same batch: delete-then-insert
    both = changes.filter(F.col("key") == "k050").unionByName(
        spark.createDataFrame(
            [("k050", 7, "insert")], "key string, val int, _change string"
        )
    ).withColumn(
        "_change",
        F.when(F.col("val") == -50, "delete").otherwise(F.col("_change")),
    )
    merge_keyed(spark, path, both)
    assert read_keyed(spark, path).filter("key = 'k050'").collect()[0]["val"] == 7


def test_delete_keeps_seq_and_schema(spark, tmp_path, plane):
    """A delete is the merge without upserts: it commits one version
    but leaves ``next_seq`` and the manifest schema as they were, even
    when its key batch carries a wider type than the table's key."""
    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "key int, val string"
        ),
        path, "key", n_buckets=2,
    )
    write_keyed(
        spark.createDataFrame([(5, "five")], "key int, val string"),
        path, "key",
    )
    before = kt._load_meta(path)
    delete_keyed(
        spark, path, spark.createDataFrame([(3,), (15,), (99,)], "key bigint")
    )
    after = kt._load_meta(path)
    assert after["next_seq"] == before["next_seq"]
    assert after["schema"] == before["schema"]
    assert after["version"] == before["version"] + 1
    keys = sorted(r["key"] for r in read_keyed(spark, path).collect())
    assert keys == [i for i in range(20) if i not in (3, 15)]


@localfs_plane_only
def test_merge_bad_seq_col_fails_before_legacy_migration(spark, tmp_path):
    """``merge_keyed`` checks ``seq_col`` before it touches the
    manifest: a bad name leaves a legacy table unmigrated."""
    import json

    import pyspark.sql.functions as F

    from cascading_hbase_spark.keyed.table import merge_keyed

    path = str(tmp_path / "legacy")
    df = spark.createDataFrame([("a", 1), ("z", 3)], "key string, val int")
    write_keyed(df, path, "key", n_buckets=2)
    _flatten_to_legacy(path)
    changes = df.withColumn("_change", F.lit("update"))
    for bad in ("nope", "key", "_change"):
        with pytest.raises(ValueError, match="seq_col"):
            merge_keyed(spark, path, changes, seq_col=bad)
    with open(os.path.join(path, "_kt_meta.json")) as f:
        assert "gens" not in json.load(f)


# ---------------------------------------------------------------------------
# One shuffle and one file per touched bucket
# ---------------------------------------------------------------------------

def _live_files_per_bucket(path) -> dict[str, int]:
    """Parquet files in each bucket's CURRENT generation, through the
    control plane's manifest (data files are on the local FS)."""
    from cascading_hbase_spark.keyed.controlplane import get_control_plane

    meta = get_control_plane().read_json(os.path.join(path, "_kt_meta.json"))
    out = {}
    for b, g in meta["gens"].items():
        d = os.path.join(path, f"_kt_bucket={b}", f"_kt_gen={g}")
        out[b] = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return out


def test_commits_write_one_file_per_touched_bucket(spark, tmp_path, plane):
    """Creation writes one file per bucket, and an APPEND whose keys
    fall in k buckets writes exactly k files, one into each."""
    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame(
            [(f"k{i:05d}", i) for i in range(10000)], "key string, val int"
        ),
        path, "key", n_buckets=8,
    )
    created = _live_files_per_bucket(path)
    assert len(created) == 8 and set(created.values()) == {1}, created
    meta = kt._load_meta(path)
    # two keys at the low end, three at the high end: 2 buckets
    keys = ["k00000", "k00001", "k09997", "k09998", "k09999"]
    touched = {str(kt._bucket_of(k, meta["boundaries"])) for k in keys}
    assert len(touched) == 2
    write_keyed(
        spark.createDataFrame([(k, -1) for k in keys], "key string, val int"),
        path, "key",
    )
    gens = kt._load_meta(path)["gens"]
    rewritten = {b for b in gens if gens[b] != meta["gens"][b]}
    assert rewritten == touched
    after = _live_files_per_bucket(path)
    assert sum(after[b] for b in rewritten) == len(touched), after
    rows = {r["key"]: r["val"] for r in read_keyed(spark, path).collect()}
    assert len(rows) == 10000 and all(rows[k] == -1 for k in keys)


def test_merge_plan_has_one_exchange(spark, tmp_path, plane):
    """The last-write-wins window and the write share one hash
    shuffle on the bucket id: the written plan of an APPEND, of a
    MERGE with deletes and of a delete each holds exactly one Exchange
    and no range partitioning."""
    import pyspark.sql.functions as F

    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame(
            [(i, i % 7, float(i)) for i in range(2000)], "k long, g int, v double"
        ),
        path, "k", n_buckets=4, seq_col="g",
    )
    plans = []
    real = kt._bucket_sorted

    def capture(df, key, *rest):
        out = real(df, key, *rest)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    kt._bucket_sorted = capture
    try:
        write_keyed(
            spark.createDataFrame(
                [(i, 9, -1.0) for i in range(100, 105)], "k long, g int, v double"
            ),
            path, "k", seq_col="g",
        )
        # one update, two deletes (one of a key the batch re-inserts)
        kt.merge_keyed(
            spark, path,
            spark.createDataFrame(
                [(200, 9, -2.0, "update"), (300, 0, 0.0, "delete"),
                 (400, 0, 0.0, "delete"), (400, 9, -4.0, "insert")],
                "k long, g int, v double, _change string",
            ),
            seq_col="g",
        )
        delete_keyed(spark, path, spark.range(500, 503).select(F.col("id").alias("k")))
    finally:
        kt._bucket_sorted = real
    assert len(plans) == 3
    for plan in plans:
        assert plan.count("Exchange") == 1, plan
        assert "rangepartitioning" not in plan
    rows = {r["k"]: r["v"] for r in read_keyed(spark, path).collect()}
    assert len(rows) == 2000 - 1 - 3 and rows[102] == -1.0 and rows[99] == 99.0
    assert rows[200] == -2.0 and rows[400] == -4.0
    assert 300 not in rows and not {500, 501, 502} & set(rows)


def test_hot_key_append_job_budget(spark, tmp_path, plane):
    """A hot-key APPEND into a zone-mapped table runs at most 3
    Spark jobs: the batch pin (which also finds the affected buckets)
    and the write, whose observation also carries the zone maps.  It
    collects nothing in ``keyed/table.py``."""
    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame(
            [(i, i % 7, float(i)) for i in range(2000)], "k long, g int, v double"
        ),
        path, "k", n_buckets=8, seq_col="g", zone_cols=["v"],
    )

    def hot():
        return spark.createDataFrame(
            [(i, 9, -1.0) for i in range(500, 505)], "k long, g int, v double"
        )

    assert _jobs_run(spark, lambda: write_keyed(hot(), path, "k", seq_col="g")) <= 3
    sites = _collect_sites(spark, lambda: write_keyed(hot(), path, "k", seq_col="g"))
    assert sites == set(), sites
    zm = kt._load_meta(path)["zone_maps"]
    assert min(lo for lo, _hi in (e["v"] for e in zm.values())) < -0.99


def test_pin_falls_back_when_observation_is_dropped(spark, tmp_path, monkeypatch):
    """If the optimizer drops the pin's observation, the affected
    buckets are collected from the pinned rows instead.  If it drops
    the write's, the written buckets are probed and lose their zone
    maps, so a zone filter reads them instead of pruning them."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from cascading_hbase_spark.keyed import table as kt

    class Dropped(Observation):
        @property
        def get(self):
            # what ``get`` raises once the optimizer removed the
            # observed node: filtering above it proves the plan empty
            lost = Observation()
            spark.range(1).observe(lost, F.count(F.lit(1))).filter(
                F.lit(False)
            ).collect()
            return lost.get

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame([(i, i) for i in range(100)], "k long, v long"),
        path, "k", n_buckets=4, zone_cols=["v"],
    )
    monkeypatch.setattr(kt, "Observation", Dropped)
    batch = spark.createDataFrame([(1, -1), (98, -98)], "k long, v long")
    pinned, affected = kt._pin(batch, kt._load_meta(path))
    meta = kt._load_meta(path)
    assert affected == sorted({kt._bucket_of(k, meta["boundaries"]) for k in (1, 98)})
    assert sorted(meta["zone_maps"]) == ["0", "1", "2", "3"]
    assert pinned.count() == 2
    write_keyed(batch, path, "k")
    rows = {r["k"]: r["v"] for r in read_keyed(spark, path).collect()}
    assert rows[1] == -1 and rows[98] == -98 and len(rows) == 100
    zm = kt._load_meta(path)["zone_maps"]
    assert sorted(zm) == sorted({"0", "1", "2", "3"} - {str(b) for b in affected})
    low = read_keyed(spark, path, zone_filter=("v", None, -1)).collect()
    assert sorted(r["k"] for r in low) == [1, 98]


def test_empty_batches_commit(spark, tmp_path, plane):
    """An APPEND of an empty frame, a delete of no keys and an
    index-silent ``refresh_index`` each commit one version and change
    no row."""
    from cascading_hbase_spark.keyed.index import (
        _index_path, create_index, index_lookup, refresh_index,
    )
    from cascading_hbase_spark.keyed.table import table_version

    path = str(tmp_path / "kt")
    df = spark.createDataFrame(
        [(i, "red" if i % 2 else "blue", i) for i in range(40)],
        "key long, color string, v long",
    )
    write_keyed(df, path, "key", n_buckets=4, retain=10)
    before = sorted(map(tuple, read_keyed(spark, path).collect()))
    v = table_version(path)
    write_keyed(spark.createDataFrame([], df.schema), path, "key")
    assert table_version(path) == v + 1
    delete_keyed(spark, path, spark.createDataFrame([], "key long"))
    assert table_version(path) == v + 2
    assert sorted(map(tuple, read_keyed(spark, path).collect())) == before

    create_index(spark, path, "color")
    ipath = _index_path(path, "color")
    iv = table_version(ipath)
    # moves only the non-indexed column: the index delta is empty
    write_keyed(
        spark.createDataFrame([(3, "red", 300)], "key long, color string, v long"),
        path, "key",
    )
    refresh_index(spark, path, "color")
    assert table_version(ipath) == iv + 1
    hits = sorted(r["key"] for r in index_lookup(spark, path, "color", "red").collect())
    assert hits == [i for i in range(40) if i % 2]


@localfs_plane_only
def test_commit_reads_savepoint_registry_once(spark, tmp_path):
    """Every commit reads the savepoint registry once, and still drops
    expired entries under the writer lock."""
    import time

    from cascading_hbase_spark.keyed import table as kt
    from cascading_hbase_spark.keyed.controlplane import (
        LocalFSControlPlane,
        use_control_plane,
    )

    class Recording(LocalFSControlPlane):
        def __init__(self):
            self.reads = []

        def read_json(self, key):
            self.reads.append(key)
            return super().read_json(key)

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame([(i, i) for i in range(40)], "k long, v long"),
        path, "k", n_buckets=2, retain=10,
    )
    with kt._writer_lock(path):
        kt.register_savepoint(path, "live", kt.table_version(path))
        kt.register_savepoint(path, "dead", 1, expires_at=time.time() - 1.0)
    plane = Recording()

    def registry_reads(commit) -> int:
        plane.reads.clear()
        v = kt.table_version(path)
        with use_control_plane(plane):
            commit()
        assert kt.table_version(path) == v + 1
        return sum(k.endswith(kt.SAVEPOINTS_FILE) for k in plane.reads)

    one_row = spark.createDataFrame([(5, -5)], "k long, v long")
    assert registry_reads(lambda: write_keyed(one_row, path, "k")) == 1
    assert set(kt._load_savepoints(path)) == {"live"}
    assert registry_reads(
        lambda: delete_keyed(spark, path, spark.createDataFrame([(6,)], "k long"))
    ) == 1
    assert registry_reads(lambda: kt.set_ttl(path, "v", None)) == 1
    assert registry_reads(lambda: kt.compact_keyed(spark, path)) == 1


# ---------------------------------------------------------------------------
# Gets served from committed bucket generations held in the driver
# ---------------------------------------------------------------------------

def _job_descriptions(spark, action) -> list[str]:
    """The job descriptions of the Spark jobs ``action()`` launches
    (empty string for a job without one), through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"kt-desc-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)  # keeps the description
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        d = store.job(j).description()
        out.append(d.get() if d.isDefined() else "")
    return out


def _held_table(spark, path, **kw) -> dict[int, int]:
    """A 100-row, 4-bucket table ``k -> 10k``; returns its rows."""
    rows = {i: i * 10 for i in range(100)}
    write_keyed(
        spark.createDataFrame(list(rows.items()), "k long, v long"),
        path, "k", n_buckets=4, **kw,
    )
    return rows


def _get(spark, path, keys, **kw) -> dict:
    from cascading_hbase_spark.keyed.table import get_keyed

    return {r["k"]: r["v"] for r in get_keyed(spark, path, keys, **kw).collect()}


def test_warm_get_runs_no_job(spark, tmp_path):
    """The first get loads the table in one labelled fill job and
    restores the caller's job description; later gets, of any buckets,
    run no Spark job and return the same rows."""
    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    _held_table(spark, path)
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        got: list = []
        descs = _job_descriptions(
            spark, lambda: got.append(_get(spark, path, [3, 97]))
        )
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert descs == [f"keyed.get fill {path} v{kt.table_version(path)}"]
    assert got == [{3: 30, 97: 970}]
    assert _jobs_run(spark, lambda: got.append(_get(spark, path, [3, 97]))) == 0
    assert _jobs_run(spark, lambda: got.append(_get(spark, path, [40, 60]))) == 0
    assert got[1:] == [{3: 30, 97: 970}, {40: 400, 60: 600}]


def test_append_reloads_only_its_bucket(spark, tmp_path, plane, monkeypatch):
    """After an APPEND into one bucket, the next get of that bucket runs
    one job that reads only that bucket and returns the new row; gets
    of untouched buckets stay job-free."""
    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    _held_table(spark, path)
    _get(spark, path, [0])
    write_keyed(spark.createDataFrame([(50, -1)], "k long, v long"), path, "k")
    b = kt._bucket_of(50, kt._load_meta(path)["boundaries"])
    reads = []
    real = kt._read_raw

    def recording(*a, **kw):
        reads.append(kw.get("buckets"))
        return real(*a, **kw)

    monkeypatch.setattr(kt, "_read_raw", recording)
    got: list = []
    assert _jobs_run(spark, lambda: got.append(_get(spark, path, [50, 51]))) == 1
    assert reads == [{b}]
    assert got == [{50: -1, 51: 510}]
    assert _jobs_run(spark, lambda: got.append(_get(spark, path, [0, 99]))) == 0
    assert got[1] == {0: 0, 99: 990}


def test_replace_never_serves_old_rows(spark, tmp_path, plane):
    """REPLACE at the same path reuses the bucket and generation
    numbers; a get after it returns only the new table's rows."""
    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    _held_table(spark, path)
    before = kt._load_meta(path)["gens"]
    assert _get(spark, path, [1, 2]) == {1: 10, 2: 20}
    write_keyed(
        spark.createDataFrame([(i, -i) for i in range(2, 100)], "k long, v long"),
        path, "k", mode=SinkMode.REPLACE, n_buckets=4,
    )
    assert kt._load_meta(path)["gens"] == before
    assert _get(spark, path, [1, 2]) == {2: -2}


def test_held_bucket_reads_evolved_column_as_typed_null(spark, tmp_path):
    """A bucket held before an additive schema evolution returns the
    new column, typed, as null."""
    from pyspark.sql.types import StringType

    from cascading_hbase_spark.keyed import table as kt
    from cascading_hbase_spark.keyed.table import get_keyed

    path = str(tmp_path / "kt")
    _held_table(spark, path)
    assert _get(spark, path, [1, 99]) == {1: 10, 99: 990}
    write_keyed(
        spark.createDataFrame([(99, 0, "x")], "k long, v long, extra string"),
        path, "k",
    )
    meta = kt._load_meta(path)
    assert kt._bucket_of(1, meta["boundaries"]) != kt._bucket_of(99, meta["boundaries"])
    df = get_keyed(spark, path, [1, 99])
    assert df.columns == ["k", "v", "extra"]
    assert isinstance(df.schema["extra"].dataType, StringType)
    assert sorted(map(tuple, df.collect())) == [(1, 10, None), (99, 0, "x")]


def test_held_rows_expire_per_call(spark, tmp_path, monkeypatch):
    """After ``set_ttl``, each get cuts expiry at its own clock, also
    from rows held since before the TTL was set."""
    import time

    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    write_keyed(
        spark.createDataFrame([(1, 1000.0), (2, 2000.0)], "k long, v double"),
        path, "k", n_buckets=2,
    )
    assert _get(spark, path, [1, 2]) == {1: 1000.0, 2: 2000.0}
    kt.set_ttl(path, "v", 500.0)
    monkeypatch.setattr(time, "time", lambda: 1200.0)
    assert _get(spark, path, [1, 2]) == {1: 1000.0, 2: 2000.0}
    monkeypatch.setattr(time, "time", lambda: 1700.0)
    got: list = []
    assert _jobs_run(spark, lambda: got.append(_get(spark, path, [1, 2]))) == 0
    assert got == [{2: 2000.0}]


def test_time_travel_get_after_commits_and_rollback(spark, tmp_path):
    """``get_keyed(generation=N)`` returns snapshot N after later
    commits, and after ``rollback_keyed`` to N the current get does."""
    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    _held_table(spark, path, retain=10)
    keys = [0, 30, 60, 99]
    v1 = {k: k * 10 for k in keys}
    assert _get(spark, path, keys) == v1
    write_keyed(spark.createDataFrame([(0, -1), (99, -1)], "k long, v long"), path, "k")
    delete_keyed(spark, path, spark.createDataFrame([(30,)], "k long"))
    assert _get(spark, path, keys) == {0: -1, 60: 600, 99: -1}
    assert _get(spark, path, keys, generation=1) == v1
    assert _get(spark, path, keys, generation=2) == {0: -1, 30: 300, 60: 600, 99: -1}
    kt.rollback_keyed(path, 1)
    assert _get(spark, path, keys) == v1


def test_get_in_aborted_multi_commit_is_not_held(spark, tmp_path, plane):
    """A get inside a ``multi_commit`` sees the staged rows, but they
    are never held: the abort lets the next commit reuse the staged
    generation number, and a get after that commit sees its rows."""
    from cascading_hbase_spark.keyed import table as kt
    from cascading_hbase_spark.keyed.txn import multi_commit

    path = str(tmp_path / "kt")
    _held_table(spark, path)
    assert _get(spark, path, [5, 6]) == {5: 50, 6: 60}
    staged_gens = None
    with pytest.raises(RuntimeError, match="abort"):
        with multi_commit([path]):
            write_keyed(spark.createDataFrame([(5, -5)], "k long, v long"), path, "k")
            staged_gens = kt._load_meta(path)["gens"]
            assert _get(spark, path, [5, 6]) == {5: -5, 6: 60}
            raise RuntimeError("abort")
    assert _get(spark, path, [60]) == {60: 600}  # held, untouched bucket
    write_keyed(spark.createDataFrame([(6, -6)], "k long, v long"), path, "k")
    assert kt._load_meta(path)["gens"] == staged_gens
    assert _get(spark, path, [5, 6]) == {5: 50, 6: -6}


def test_restarted_session_drops_held_generations(spark, tmp_path, monkeypatch):
    """Held generations belong to one Spark application: under a new
    application id the get reloads, and the old entries are gone."""
    from pyspark import SparkContext

    from cascading_hbase_spark.keyed import table as kt

    path = str(tmp_path / "kt")
    _held_table(spark, path)
    assert _get(spark, path, [7]) == {7: 70}
    old = spark.sparkContext.applicationId
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda self: "restarted"))
    got: list = []
    assert _jobs_run(spark, lambda: got.append(_get(spark, path, [7]))) == 1
    assert got == [{7: 70}]
    with kt._HELD_LOCK:
        apps = {k[0] for k in kt._HELD}
    assert old not in apps and "restarted" in apps


def test_table_over_row_bound_reads_pruned_parquet(spark, tmp_path, monkeypatch):
    """A snapshot of more rows than ``_HOLD_ROWS`` is refused by its one
    fill job and not held: each get reads only its buckets' parquet
    files, and later gets of that version try no fill.  An update that
    keeps the files' size tries no fill either; a delete that shrinks
    them by more than a quarter is tried again and held."""
    import re

    from cascading_hbase_spark.keyed import table as kt
    from cascading_hbase_spark.keyed.table import get_keyed

    path = str(tmp_path / "kt")
    _held_table(spark, path)
    monkeypatch.setattr(kt, "_HOLD_ROWS", 50)
    for fills in (1, 0):
        got: list = []
        descs = _job_descriptions(
            spark, lambda: got.append(get_keyed(spark, path, [3, 4]))
        )
        assert len(descs) == fills and all("keyed.get fill" in d for d in descs)
        files = got[0].inputFiles()
        assert len({re.search(r"_kt_bucket=(\d+)", f)[1] for f in files}) == 1, files
        rows: list = []
        assert _jobs_run(spark, lambda: rows.extend(got[0].collect())) == 1
        assert sorted(map(tuple, rows)) == [(3, 30), (4, 40)]
    with kt._HELD_LOCK:
        assert not any(k[1] == path for k in kt._HELD)
    write_keyed(spark.createDataFrame([(3, -3)], "k long, v long"), path, "k")
    descs = _job_descriptions(spark, lambda: _get(spark, path, [3]))
    assert not any("keyed.get fill" in d for d in descs)
    delete_keyed(spark, path, spark.createDataFrame([(i,) for i in range(60)], "k long"))
    assert _get(spark, path, [3, 70]) == {70: 700}
    assert _jobs_run(spark, lambda: _get(spark, path, [80, 99])) == 0


def test_table_over_byte_share_is_refused_without_a_job(spark, tmp_path, monkeypatch):
    """Files larger than a table's heap share are refused from the
    listing alone: the get runs no fill job and reads parquet."""
    from cascading_hbase_spark.keyed import table as kt
    from cascading_hbase_spark.keyed.table import get_keyed

    path = str(tmp_path / "kt")
    _held_table(spark, path)
    monkeypatch.setattr(kt, "_HOLD_TABLE_BYTES", 100)
    got: list = []
    assert _jobs_run(spark, lambda: got.append(get_keyed(spark, path, [3, 97]))) == 0
    assert got[0].inputFiles()
    assert sorted(map(tuple, got[0].collect())) == [(3, 30), (97, 970)]
    with kt._HELD_LOCK:
        assert not any(k[1] == path for k in kt._HELD)


def test_held_heap_is_bounded(spark, tmp_path, monkeypatch):
    """The rows' measured heap bounds what is held: a table whose rows
    outgrow its share after the fill is refused, and holding one table
    evicts other tables' least recently used generations while the
    total would pass ``_HOLD_BYTES``."""
    from cascading_hbase_spark.keyed import table as kt

    paths = [str(tmp_path / n) for n in ("a", "b", "c")]
    for p in paths:
        _held_table(spark, p)
    assert _get(spark, paths[0], [1]) == {1: 10}
    with kt._HELD_LOCK:
        heap = sum(e[3] for k, e in kt._HELD.items() if k[1] == paths[0])
    meta = kt._load_meta(paths[1])
    listed = kt._read_raw(spark, paths[1], meta)._jdf.queryExecution().analyzed().stats().sizeInBytes()
    assert 0 < listed < heap // 2
    # the files fit the share but the rows, once measured, do not
    monkeypatch.setattr(kt, "_HOLD_TABLE_BYTES", heap // 2)
    assert _get(spark, paths[1], [2, 98]) == {2: 20, 98: 980}
    with kt._HELD_LOCK:
        assert not any(k[1] == paths[1] for k in kt._HELD)
    # room for one and a half tables: holding c evicts a's least
    # recently used generations, and a get of them reloads them
    monkeypatch.setattr(kt, "_HOLD_TABLE_BYTES", 2 * heap)
    monkeypatch.setattr(kt, "_HOLD_BYTES", heap * 3 // 2)
    assert _get(spark, paths[2], [5]) == {5: 50}
    with kt._HELD_LOCK:
        held = [k[1] for k in kt._HELD]
        total = sum(e[3] for e in kt._HELD.values())
    assert held.count(paths[2]) == 4 and held.count(paths[0]) < 4
    assert total <= kt._HOLD_BYTES
    assert _jobs_run(spark, lambda: _get(spark, paths[0], [1])) == 1


def test_commits_leave_no_success_marker(spark, tmp_path, plane):
    """Create, APPEND, delete and compaction write no ``_SUCCESS``
    marker (nor its checksum) at the table root."""
    from cascading_hbase_spark.keyed.table import compact_keyed

    path = str(tmp_path / "kt")
    _held_table(spark, path)
    write_keyed(spark.createDataFrame([(5, -5)], "k long, v long"), path, "k")
    delete_keyed(spark, path, spark.createDataFrame([(6,)], "k long"))
    compact_keyed(spark, path)
    assert not {"_SUCCESS", "._SUCCESS.crc"} & set(os.listdir(path))
