"""Keyed tables: the reference's [R] surface as Parquet-backed,
range-bucketed, last-write-wins tables.

Semantics (SURVEY.md §1.1, §2.1):

- upsert-by-key / last-write-wins: 13 tuples with 5 distinct keys store
  5 rows (MultiFamilyHBaseTest.java:57,71); later batches win, with an
  explicit intra-batch order (``seq_col``) standing in for the HBase
  cell timestamp (HBaseScheme.java:127).
- sink modes KEEP / APPEND / REPLACE per HBaseTap.java:32-40 with the
  REPLACE drop-and-recreate branch at :123-128.
- range scans with [start, stop) pruning per
  TableInputFormatWrap.java:55-65; field projection with the key
  prepended per HBaseScheme.java:157-162.
- deletes per TableOutputFormatWrap.java:82, as an anti-join rewrite.

Physical layout — designed so the 100 TB append is incremental AND
transactional:

    <path>/_kt_meta.json                    the manifest: key name, bucket
                                            boundaries, next seq, families,
                                            schema, bucket -> generation map,
                                            commit version
    <path>/_kt_history/v<N>.json            one manifest snapshot per commit
                                            (tiny JSON: the commit log)
    <path>/_kt_bucket=<i>/_kt_gen=<n>/*.parquet   one generation dir per
                                            committed rewrite of a bucket

Bucket boundaries are fixed at table creation (sampled key quantiles),
so every write lands each key in the same bucket forever — until an
explicit ``compact_keyed(..., n_buckets=...)`` re-samples them (the
engine-side analogue of an HBase region split/major compaction, which
the reference got for free from the region server,
TableInputFormatWrap.java:40-82).  An APPEND merges *only the buckets
its batch touches*: the merge materializes in a staging sibling, moves
into fresh generation directories, and COMMITS by atomically replacing
the manifest — readers resolve data only through the manifest's
generation pointers, so a multi-bucket append is all-or-nothing (a
crash anywhere pre-commit leaves the previous snapshot intact plus
invisible orphans, GC'd by the next write).  Untouched buckets' files
are never read or rewritten (the analogue of HBase routing a Put to one
region, not compacting the whole table).  The seq counter persists
before the data write, so a crashed-and-replayed batch never reuses a
committed seq.  Range scans prune to the overlapping buckets
(partition pruning) and push the key predicate into the parquet scan
(row-group min/max skipping, since each bucket is written sorted by
key).

Commit history & GC: every commit snapshots the manifest into
``_kt_history/v<N>.json``.  GC retains exactly the generation dirs
referenced by the last ``retain`` (default 2) manifests, which (a)
keeps a reader planned against the prior snapshot working across one
concurrent commit — including a bucket the commit *emptied* — and (b)
makes those snapshots time-travel-readable: ``read_keyed(...,
generation=N)`` and ``rollback_keyed(path, N)``.  Raise ``retain`` at
creation (``write_keyed(..., retain=K)``) for deeper time travel.

Concurrency: ONE writer per table at a time.  Writers take an
exclusive lock file (``<path>__kt_lock``, pid-stamped; stale locks from
dead processes are reclaimed) and raise ``ConcurrentWriteError`` if
another live writer holds it — two concurrent writers would otherwise
race the manifest and silently drop each other's generation pointers.
Readers never take the lock (snapshot isolation via the manifest).
"""

from __future__ import annotations

import contextlib
import enum
import json
import math
import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from cascading_hbase_spark.keyed.controlplane import (
    ConcurrentWriteError,
    get_control_plane as _cp,
    local_lock_path as _lock_path,
)

__all__ = [
    "SinkMode", "KeyedTable", "ConcurrentWriteError",
    "write_keyed", "read_keyed", "get_keyed", "delete_keyed",
    "merge_keyed", "apply_changefeed",
    "compact_keyed", "rollback_keyed", "list_generations",
    "changefeed_keyed", "set_ttl", "clone_keyed", "composite_key",
    "composite_prefix", "StaleWriteError", "table_version",
    "describe_keyed", "vacuum_keyed",
]

SEQ_COL = "_kt_seq"
BUCKET_COL = "_kt_bucket"
GEN_COL = "_kt_gen"
GEN_PREFIX = GEN_COL + "="
META_FILE = "_kt_meta.json"
HISTORY_DIR = "_kt_history"
DEFAULT_RETAIN = 2
HISTORY_KEEP = 64  # manifest JSONs kept on disk (tiny; audit trail)


class SinkMode(enum.Enum):
    """HBaseTap sink modes (HBaseTap.java:32-40): KEEP fails on an
    existing table, APPEND (the default) upserts into it, REPLACE drops
    and recreates it."""

    KEEP = "keep"
    APPEND = "append"
    REPLACE = "replace"


class StaleWriteError(ConcurrentWriteError):
    """Optimistic-concurrency check failed: the table committed past
    the version the caller read before computing its batch.  Subclass
    of ``ConcurrentWriteError`` so existing catch-alls keep working;
    the remedy is different, though — re-read, recompute, retry."""


# ---------------------------------------------------------------------------
# Metadata + commit history
# ---------------------------------------------------------------------------

def _meta_path(path: str) -> str:
    return os.path.join(path, META_FILE)


def _exists(path: str) -> bool:
    return _cp().object_exists(_meta_path(path))


def _load_meta(path: str) -> dict:
    return _cp().read_json(_meta_path(path))


def _save_meta(path: str, meta: dict) -> None:
    # the control plane's atomic-publish primitive IS the commit point
    _cp().write_json_atomic(_meta_path(path), meta)


def _history_path(path: str, version: int) -> str:
    return os.path.join(path, HISTORY_DIR, f"v{version}.json")


def _load_history(path: str, version: int) -> dict | None:
    try:
        return _cp().read_json(_history_path(path, version))
    except (FileNotFoundError, NotADirectoryError):
        return None


def _write_history(path: str, meta: dict) -> None:
    """Snapshot the just-committed manifest into the commit log and
    prune entries beyond HISTORY_KEEP (the JSONs are tiny, but the log
    must not grow unboundedly over thousands of appends).  Manifests a
    LIVE savepoint covers are never pruned — the restore needs exactly
    that snapshot's pointers (r13; expired savepoints stop pinning)."""
    hdir = os.path.join(path, HISTORY_DIR)
    version = meta["version"]
    _cp().write_json_atomic(_history_path(path, version), meta)
    pinned = {
        e.get("version") for e in _live_savepoints(path).values()
    }
    for name in _cp().list_names(hdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            if v <= version - HISTORY_KEEP and v not in pinned:
                _cp().delete_quiet(os.path.join(hdir, name))


# ---------------------------------------------------------------------------
# Savepoint registry (r13) — the retention-awareness seam
# ---------------------------------------------------------------------------
#
# ``txn.savepoint_keyed`` registers its cut here, per covered table, so
# retention decisions made LOCALLY on one table (per-commit GC, vacuum,
# history pruning) know a cross-table restore point depends on one of
# their snapshots.  The registry lives OUTSIDE the versioned manifest
# (a sibling object, like the writer lock): registering a savepoint is
# not a commit, a rollback does not silently deregister the savepoint
# it was taken from, and the no-op/fingerprint identities of meta-only
# commits are untouched.

SAVEPOINTS_FILE = "_kt_savepoints.json"


class SavepointPinnedError(RuntimeError):
    """``vacuum_keyed`` would garbage-collect a snapshot a LIVE
    registered savepoint still covers; release the savepoint (or pass
    ``force=True``, which deregisters the crossed savepoints) first."""


def _savepoints_key(path: str) -> str:
    return os.path.join(path, SAVEPOINTS_FILE)


def _load_savepoints(path: str) -> dict:
    try:
        doc = _cp().read_json(_savepoints_key(path))
    except (FileNotFoundError, NotADirectoryError):
        return {}
    return doc.get("savepoints", {})


def _save_savepoints(path: str, sps: dict) -> None:
    key = _savepoints_key(path)
    if sps:
        _cp().write_json_atomic(key, {"savepoints": sps})
    else:
        _cp().delete_quiet(key)


def _live_savepoints(path: str, now: float | None = None) -> dict:
    """Unexpired registered savepoints.  Expiry is evaluated at READ
    time (an expired entry stops pinning immediately); the stale bytes
    are physically dropped by the next locked writer (``_gc_orphans``
    / ``vacuum_keyed``)."""
    import time as _time

    now = _time.time() if now is None else now
    return {
        i: e for i, e in _load_savepoints(path).items()
        if e.get("expires_at") is None or e["expires_at"] > now
    }


def register_savepoint(
    path: str, sp_id: str, version: int, expires_at: float | None = None
) -> None:
    """Record that savepoint ``sp_id`` depends on snapshot ``version``
    of this table.  Caller must hold the table's writer lease (the
    savepoint cut does)."""
    sps = _load_savepoints(path)
    sps[sp_id] = {"version": int(version), "expires_at": expires_at}
    _save_savepoints(path, sps)


def deregister_savepoint(path: str, sp_id: str) -> None:
    """Drop ``sp_id``'s pin on this table (idempotent)."""
    with _writer_lock(path):
        sps = _load_savepoints(path)
        if sps.pop(sp_id, None) is not None:
            _save_savepoints(path, sps)


def list_generations(path: str) -> list[int]:
    """Commit versions with a manifest snapshot on disk, oldest first.
    (Only the last ``retain`` of them are guaranteed readable — older
    snapshots' data files may have been garbage-collected.)"""
    hdir = os.path.join(path, HISTORY_DIR)
    out = []
    for name in _cp().list_names(hdir):
        if name.startswith("v") and name.endswith(".json"):
            with contextlib.suppress(ValueError):
                out.append(int(name[1:-5]))
    return sorted(out)


# ---------------------------------------------------------------------------
# Writer lock
# ---------------------------------------------------------------------------

def _delete_tree_checked(path: str) -> None:
    """Tree delete that VERIFIES the target is gone: the control
    plane's delete is quiet (GC call sites want idempotence), but
    REPLACE and drop must not proceed over a half-deleted table — a
    surviving generation dir would be recreated-over and surface later
    as a confusing mid-publish ENOTEMPTY instead of a clear error
    here (r09 review finding)."""
    _cp().delete_tree_quiet(path)
    if _cp().dir_exists(path) or _exists(path):
        raise OSError(
            f"failed to delete keyed table tree {path} (permissions? "
            f"concurrent writer?); refusing to recreate over leftovers"
        )


def _writer_lock(path: str):
    """Exclusive per-table writer lease — the control plane's mutual-
    exclusion primitive (pid-stamped ``os.link`` lock file with dead-
    pid reclaim on the local FS; a TTL lease object on an object
    store).  The documented deployment contract is single writer per
    table."""
    return _cp().writer_lease(path)


# ---------------------------------------------------------------------------
# Bucketing
# ---------------------------------------------------------------------------

def _sample_boundaries(df: DataFrame, key: str, n_buckets: int) -> list:
    """Fixed range boundaries from a bounded sample of the batch's keys.

    Sample FIRST, then distinct only the sample — the table-creation
    path must never run a full ``distinct().count()`` shuffle of every
    key (at 100 TB that is a full-table shuffle just to size a sample).
    ``sample(frac)`` is a map-side filter, ``distinct()`` shuffles only
    the sampled subset, and ``limit`` over the hash-partitioned distinct
    output is an approximately uniform draw of distinct keys (any subset
    of hash partitions is unbiased in the key).  Escalating fractions
    cover tiny batches without a ``count()``."""
    if n_buckets <= 1:
        return []
    keys_df = df.select(key).where(F.col(key).isNotNull())
    sample: list = []
    for frac in (0.001, 0.05, None):
        sampled = keys_df if frac is None else keys_df.sample(False, frac, seed=42)
        sample = sorted({r[0] for r in sampled.distinct().limit(20000).collect()})
        if len(sample) >= n_buckets * 4:
            break
    if not sample:
        return []
    bounds = []
    for i in range(1, n_buckets):
        b = sample[min(len(sample) - 1, (len(sample) * i) // n_buckets)]
        if not bounds or b > bounds[-1]:
            bounds.append(b)
    return bounds


def _bucket_expr(key: str, boundaries: list) -> F.Column:
    """bucket(k) = number of boundaries <= k — bucket 0 is (-inf, b0),
    the last bucket [b_last, +inf); every key maps to exactly one."""
    b = F.lit(0)
    for bound in boundaries:
        b = b + F.when(F.col(key) >= F.lit(bound), 1).otherwise(0)
    return b.cast("int")


def _bucket_of(value, boundaries: list) -> int:
    n = 0
    for bound in boundaries:
        if value >= bound:
            n += 1
    return n


# ---------------------------------------------------------------------------
# Write path
# ---------------------------------------------------------------------------

def _lww(df: DataFrame, key: str, order_cols: list) -> DataFrame:
    """Collapse to one row per key: the highest (order_cols) wins."""
    w = Window.partitionBy(key).orderBy(*[c.desc() for c in order_cols])
    return df.withColumn("_kt_rn", F.row_number().over(w)).filter(
        F.col("_kt_rn") == 1
    ).drop("_kt_rn")


def _check_ident(name: str, what: str) -> None:
    """The keyed layer parses this name as a SQL identifier in many
    expressions (bucketing, LWW ordering, zone maps, composite keys);
    a dot or backtick in a top-level column name would be parsed as
    nesting/quoting somewhere mid-job with a baffling AnalysisException
    — fail fast at the boundary with a clear error instead."""
    if "." in name or "`" in name:
        raise ValueError(
            f"{what} {name!r}: keyed tables require identifier-safe "
            f"top-level column names (no '.' or '`') for the key, "
            f"seq_col and zone_cols — rename the column before writing"
        )


def _order_cols(df_cols: list[str], key: str, seq_col: str | None) -> list:
    intra = [F.col(seq_col)] if seq_col else [
        F.col(c) for c in df_cols if c != key and c != SEQ_COL
    ]
    return [F.col(SEQ_COL), *intra]


def _write_partitioned(df: DataFrame, path: str, key: str,
                       by_bucket: bool = False) -> None:
    """Write bucket-partitioned, each bucket's files sorted by key (so
    the key predicate prunes row groups on read).

    ``by_bucket=True`` (compaction) hash-partitions on the bucket id so
    each bucket lands in ~one task -> ~one file; the default range
    partitioning on the key suits incremental merges (bucket contents
    align with contiguous key ranges)."""
    out = _bucket_sorted(df, key, by_bucket)
    out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)


def _bucket_sorted(df: DataFrame, key: str, by_bucket: bool) -> DataFrame:
    """The one place the bucket-partitioned write layout is encoded
    (shared by the staged and the direct-commit writers, so the
    "each bucket lands in ~one task -> ~one file" invariant cannot
    silently diverge between them)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if by_bucket:
        return df.repartition(n, F.col(BUCKET_COL)).sortWithinPartitions(
            BUCKET_COL, key
        )
    return df.repartitionByRange(n, F.col(key)).sortWithinPartitions(key)


def _stage_dir(path: str) -> str:
    """Staging sibling OUTSIDE the table directory, so a crashed merge
    can never pollute partition discovery on the live table."""
    return path.rstrip("/") + "__kt_stage"


def _gc_orphans(path: str, meta: dict) -> None:
    """Remove generation directories no retained manifest references.

    Retained = the generation pointers of the last ``retain`` (default
    2) committed manifests.  That keeps (a) a reader DataFrame planned
    against the prior snapshot working across one concurrent commit —
    including buckets that commit *emptied* (their last generation is
    still referenced by the previous manifest) — and (b) the last
    ``retain`` commits time-travel-readable.  Crashed uncommitted
    attempts (newer than any manifest) are collected immediately."""
    version = meta.get("version", 1)
    retain = meta.get("retain", DEFAULT_RETAIN)
    retained: dict[str, set[int]] = {}

    def _add(gens: dict) -> None:
        for b, g in gens.items():
            retained.setdefault(b, set()).add(g)

    _add(meta.get("gens", {}))
    for v in range(version - 1, version - retain, -1):
        if v < 1:
            break
        h = _load_history(path, v)
        if h:
            _add(h.get("gens", {}))
    # LIVE registered savepoints pin their snapshot's generations past
    # the retain window (r13): the per-commit GC must never collect a
    # snapshot a cross-table restore still depends on.  Expired
    # registry entries are dropped here (this runs under the writer
    # lock on every commit) — that is how an expired savepoint's
    # storage is actually reclaimed.
    all_sps = _load_savepoints(path)
    live_sps = _live_savepoints(path)
    if len(live_sps) != len(all_sps):
        _save_savepoints(path, live_sps)
    for ent in live_sps.values():
        v = ent.get("version")
        if v and v < version:
            h = _load_history(path, v)
            if h:
                _add(h.get("gens", {}))
    for d in _cp().list_names(path):
        if not d.startswith(BUCKET_COL + "="):
            continue
        b = d.split("=", 1)[1]
        keep = retained.get(b, set())
        full = os.path.join(path, d)
        if not keep:
            _cp().delete_tree_quiet(full)
            continue
        for g in _cp().list_names(full):
            if not g.startswith(GEN_PREFIX):
                continue
            if int(g[len(GEN_PREFIX):]) not in keep:
                _cp().delete_tree_quiet(os.path.join(full, g))


def _publish(stage: str, path: str, meta: dict, affected: list) -> None:
    """Transactional commit: move each staged bucket into a NEW
    generation directory (``_kt_bucket=<b>/_kt_gen=<n>``), then flip
    the manifest (``_kt_meta.json``) via the control plane's atomic
    publish (``os.replace`` locally; conditional PUT on an object
    store).

    Readers resolve data through the manifest's generation pointers, so
    the flip makes ALL affected buckets visible at once — a crash at
    any earlier point leaves only unreferenced orphan directories (the
    previous snapshot stays fully readable), which the next write
    garbage-collects.  This is the engine's stand-in for the atomicity
    the reference got from HBase for free (HBaseTap.java:44-101
    delegates lifecycle to the region server).

    Generation numbers come from the monotone ``last_gen`` map (never
    reset, even when a bucket empties or the table rolls back), so a
    fresh generation can never collide with a grace-retained or
    time-travel-retained older one."""
    gens = meta.setdefault("gens", {})
    last = meta.setdefault("last_gen", {})
    written: dict[str, int] = {}
    for b in affected:
        sb = str(b)
        src = os.path.join(stage, f"{BUCKET_COL}={b}")
        if _cp().dir_exists(src):
            newgen = max(gens.get(sb, -1), last.get(sb, -1)) + 1
            dst = os.path.join(path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{newgen}")
            if _cp().dir_exists(dst):  # orphan of a crashed attempt
                _cp().delete_tree_quiet(dst)
            _cp().promote_dir(src, dst)
            written[sb] = newgen
    _commit_manifest(path, meta, affected, written)


def _commit_manifest(
    path: str, meta: dict, affected: list, written: dict[str, int]
) -> None:
    """Advance the generation map to the buckets this batch actually
    produced (``written``), drop the pointers of affected buckets the
    batch emptied (the previous manifest still references their last
    generation, so in-flight readers keep working for one commit), and
    flip the manifest — the single commit point for stage-and-promote
    and direct-to-final writes alike."""
    gens = meta.setdefault("gens", {})
    last = meta.setdefault("last_gen", {})
    for b in affected:
        sb = str(b)
        if sb in written:
            gens[sb] = written[sb]
            last[sb] = written[sb]
        else:
            gens.pop(sb, None)
    meta["version"] = meta.get("version", 0) + 1
    # backfill for tables created before incarnation ids existed: every
    # commit heals them, so the replica/matview None-incarnation gate
    # (which forces a one-time rebuild when it cannot prove lineage)
    # converges instead of looping — a legacy base that committed since
    # the dependent was built always carries an id by then (r10 review)
    meta.setdefault("table_id", uuid.uuid4().hex)
    _save_meta(path, meta)  # <- the commit point
    _write_history(path, meta)
    _gc_orphans(path, meta)


def _migrate_legacy(path: str, meta: dict) -> None:
    """Upgrade a flat-bucket-dir table (pre-generation layout) in place:
    every bucket's files move into its generation-0 directory and the
    manifest gains the generation map + commit version.  Idempotent; a
    no-op for current-layout tables."""
    if "gens" in meta:
        return
    gens: dict[str, int] = {}
    for d in _cp().list_names(path):
        if not d.startswith(BUCKET_COL + "="):
            continue
        b = d.split("=", 1)[1]
        full = os.path.join(path, d)
        g0 = os.path.join(full, GEN_PREFIX + "0")
        _cp().ensure_dir(g0)
        for f in _cp().list_names(full):
            if not f.startswith(GEN_PREFIX):
                _cp().move_object(os.path.join(full, f), os.path.join(g0, f))
        gens[b] = 0
    meta["gens"] = gens
    meta["last_gen"] = dict(gens)
    meta.setdefault("version", 1)
    _save_meta(path, meta)
    _write_history(path, meta)


def _update_zone_maps(df: DataFrame, meta: dict) -> None:
    """Refresh per-bucket zone maps (min/max of the table's configured
    ``zone_cols``) for every bucket present in the about-to-be-staged
    relation — which IS each affected bucket's full new content, so
    the stats are exact, not merely widened.  Bounds are stored one
    ulp wider than measured (float conversion of DECIMAL/era types
    must never tighten a bound; pruning correctness requires
    supersets).  Buckets absent from this commit keep their previous
    entries; a bucket the commit empties keeps a stale-but-superset
    entry that the gens intersection in ``_read_raw`` makes harmless.

    Cost: one extra aggregate over the staged relation per commit —
    the zone-maps tax, paid only when the table opted in at creation
    (``write_keyed(zone_cols=[...])``)."""
    zcols = [c for c in meta.get("zone_cols", []) if c in df.columns]
    if not zcols:
        return
    aggs = []
    for c in zcols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"_mn_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"_mx_{c}"))
    zm = meta.setdefault("zone_maps", {})
    for r in df.groupBy(BUCKET_COL).agg(*aggs).collect():
        ent = {}
        for c in zcols:
            mn, mx = r[f"_mn_{c}"], r[f"_mx_{c}"]
            if mn is not None and mx is not None:
                ent[c] = [
                    math.nextafter(mn, -math.inf),
                    math.nextafter(mx, math.inf),
                ]
        b = str(r[BUCKET_COL])
        if ent:
            zm[b] = ent
        else:  # bucket's new content is empty/all-null for every zone col
            zm.pop(b, None)


def _stage_and_publish(
    df: DataFrame, path: str, key: str, meta: dict, affected: list | None = None,
    by_bucket: bool = False,
) -> None:
    """Materialize ``df`` bucket-partitioned in the staging sibling,
    then commit via ``_publish``.  ``affected=None`` publishes every
    bucket the write produced (table creation).

    The committed bucket set is always the UNION of the caller's
    ``affected`` list and the buckets actually present in the staging
    output: if the input plan is non-deterministic (rand/sample/changed
    source) and re-evaluation lands rows in a bucket the caller didn't
    precompute, those rows are published rather than silently dropped
    with the stage directory.

    When the installed control plane declares ``direct_commit``
    (object-store planes, where "rename" means copying every data
    file), the staging step disappears entirely: files are written
    DIRECTLY at their final generation keys and only the manifest flip
    makes them visible."""
    if getattr(_cp(), "direct_commit", False):
        _direct_publish(df, path, key, meta, affected, by_bucket)
        return
    stage = _stage_dir(path)
    _cp().delete_tree_quiet(stage)
    _update_zone_maps(df, meta)
    try:
        _write_partitioned(df, stage, key, by_bucket=by_bucket)
        staged = sorted(
            int(d.split("=", 1)[1])
            for d in _cp().list_names(stage)
            if d.startswith(BUCKET_COL + "=")
        )
        if affected is None:
            affected = staged
        else:
            affected = sorted(set(affected) | set(staged))
        _publish(stage, path, meta, affected)
    finally:
        _cp().delete_tree_quiet(stage)


def _direct_publish(
    df: DataFrame, path: str, key: str, meta: dict, affected: list | None,
    by_bucket: bool = False,
) -> None:
    """Rename-free commit (object-store pattern): write each bucket's
    files DIRECTLY into its next generation directory — readers resolve
    data only through the manifest's generation pointers, so the new
    files are invisible until ``_commit_manifest`` flips the manifest,
    which stays the sole commit point.  A crash mid-write leaves only
    unreferenced orphan directories (the previous snapshot reads
    fine); the next attempt recomputes the same generation numbers and
    clears them before writing.

    The next generation per bucket must be known BEFORE Spark runs, so
    it is precomputed for every possible bucket id (the bucket count is
    fixed at creation — bounded, driver-side arithmetic only) and
    attached as a literal-array lookup ``gen = gens_by_bucket[bucket]``
    — no extra shuffle, no second pass over the data.

    Control-plane traffic tracks the TOUCHED buckets, not the bucket
    count: orphan probes cover only the buckets this commit can write
    (``affected`` when the caller scoped the merge — its writers
    guarantee the frame's buckets are a subset; every bucket only on
    the O(table) paths where that is the work anyway), and the
    buckets actually written are collected by an ``Observation`` on
    the write itself (a bounded ``collect_set`` riding the single
    pass) instead of per-bucket existence probes — on a real object
    store each probe is a billable round trip."""
    _update_zone_maps(df, meta)
    gens = meta.setdefault("gens", {})
    last = meta.setdefault("last_gen", {})
    n_buckets = len(meta.get("boundaries", [])) + 1
    newgen = {
        b: max(gens.get(str(b), -1), last.get(str(b), -1)) + 1
        for b in range(n_buckets)
    }
    if affected is None:
        candidates = range(n_buckets)
    else:
        # ids beyond the CURRENT bucket domain (old pointers kept in
        # ``affected`` so a shrinking re-bucket drops them) cannot be
        # written, so they need no orphan probe
        candidates = [b for b in affected if 0 <= b < n_buckets]
    for b in candidates:
        dst = os.path.join(path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{newgen[b]}")
        if _cp().dir_exists(dst):  # orphan of a crashed attempt
            _cp().delete_tree_quiet(dst)
    out = df.withColumn(
        GEN_COL,
        F.array(*[F.lit(newgen[b]) for b in range(n_buckets)])[
            F.col(BUCKET_COL)
        ],
    )
    obs = Observation()
    out = _bucket_sorted(
        out.observe(obs, F.collect_set(F.col(BUCKET_COL)).alias("buckets")),
        key,
        by_bucket,
    )
    out.write.mode("append").partitionBy(BUCKET_COL, GEN_COL).parquet(path)
    try:
        observed = obs.get["buckets"]
    except Exception:
        # A frame the optimizer can PROVE empty (e.g. a delete that
        # empties every affected bucket) is collapsed to an empty
        # relation, which eliminates the CollectMetrics node — no
        # metrics row is ever produced and obs.get raises from the
        # JVM.  Fall back to probing gen dirs — ALL buckets, not just
        # the pre-cleared candidates: if obs.get failed for any other
        # reason while the frame escaped its declared bucket set, a
        # candidates-only probe would bypass the produced⊆affected
        # guard vacuously and silently drop the escaped rows from the
        # flip.  Candidate dirs were cleared of orphans pre-write, so
        # existence there means THIS write; a hit OUTSIDE candidates
        # (this write escaping, or a crashed attempt's leftover) trips
        # the refuse-to-flip below — a retryable refusal, never a
        # silent drop.  (Eliminated-CollectMetrics case found by
        # explore-profile fuzz under KT_PLANE=objectstore; pinned in
        # test_keyed_property.)
        observed = [
            b
            for b in range(n_buckets)
            if _cp().dir_exists(
                os.path.join(
                    path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{newgen[b]}"
                )
            )
        ]
    produced = sorted(int(b) for b in observed)
    if affected is not None and not set(produced) <= set(affected):
        # data landed in a bucket the orphan probes did not cover —
        # either the caller broke the frame-buckets ⊆ affected contract
        # or a crashed attempt's leftover sits in an unprobed dir.
        # Refuse to flip the manifest (previous snapshot stays intact)
        # AND delete the offending dirs first: every file there is
        # uncommitted (this write's escapees or a crashed attempt's),
        # so the cleanup is safe and makes the refusal actually
        # retryable — without it a stale leftover outside the affected
        # set would wedge every later empty-plan commit that recomputes
        # the same generation number (r10 review).
        escaped = sorted(set(produced) - set(affected))
        for b in escaped:
            _cp().delete_tree_quiet(
                os.path.join(path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{newgen[b]}")
            )
        raise AssertionError(
            f"direct commit found data in buckets {escaped} outside the "
            f"declared affected set {sorted(affected)}; refusing to commit "
            f"(offending uncommitted dirs deleted — a retry starts clean)"
        )
    written = {str(b): newgen[b] for b in produced}
    if affected is None:
        affected = produced
    else:
        affected = sorted(set(affected) | set(produced))
    _commit_manifest(path, meta, affected, written)


# Manifest keys the engine owns; meta_extra may not shadow them.
_RESERVED_META = {
    "key", "boundaries", "next_seq", "families", "schema", "gens",
    "last_gen", "version", "retain", "ttl", "schema_evolved",
    "zone_cols", "zone_maps", "vacuum_horizon", "seq_col", "table_id",
    "txn", "rebucket_src",
}


def _merge_meta_extra(meta: dict, meta_extra: dict | None) -> None:
    if not meta_extra:
        return
    bad = sorted(set(meta_extra) & _RESERVED_META)
    if bad:
        raise ValueError(f"meta_extra may not override engine keys: {bad}")
    # Stream-stamp clobber guard (r12): the maintenance-consumer
    # entries ("matview"/"replica") carry a ``stream`` mode stamp once
    # a streaming maintainer is attached.  A scheduled refresh/sync
    # that READ the manifest before the attach and commits after would
    # spread its stale copy and silently DROP the stamp — for a
    # matview that re-opens the double-apply door, for a replica it
    # turns the follower's next stream start into a confusing
    # foreign-checkpoint refusal.  This is the commit half of the
    # attach-time stamp: the attach closes the ordering for commits
    # that start after it, this guard closes it for the one already in
    # flight.  Same-checkpoint updates (the stream's own batch stamps
    # advancing batch_id) pass; rebuilds go through REPLACE, whose
    # fresh manifest has no stamp to clobber.
    for app_key in ("matview", "replica", "index_of"):
        incoming = meta_extra.get(app_key)
        if not isinstance(incoming, dict):
            continue
        disk_st = (meta.get(app_key) or {}).get("stream") or None
        new_st = incoming.get("stream")
        if disk_st is not None and (
            not isinstance(new_st, dict)
            or new_st.get("checkpoint") != disk_st.get("checkpoint")
        ):
            raise StaleWriteError(
                f"refusing to commit a {app_key!r} manifest entry that "
                f"would drop/replace the stream maintenance stamp "
                f"(checkpoint {disk_st.get('checkpoint')!r}); a "
                f"streaming maintainer attached after this operation "
                f"read its cursor — it owns the table now (rebuild via "
                f"REPLACE to hand maintenance back to batch)"
            )
    meta.update(meta_extra)


def write_keyed(
    df: DataFrame,
    path: str,
    key: str,
    mode: SinkMode = SinkMode.APPEND,
    seq_col: str | None = None,
    n_buckets: int | None = None,
    families: dict[str, str] | None = None,
    retain: int | None = None,
    meta_extra: dict | None = None,
    zone_cols: list[str] | None = None,
    ttl: dict | None = None,
) -> None:
    """Write ``df`` as a keyed table at ``path``.

    ``ttl`` (creation only, ``{"col": ts_col, "seconds": s}``) records
    the row-TTL policy in the SAME atomic commit as the created table —
    what ``clone_keyed`` needs to carry a source's TTL without a
    second, crash-separable commit.  Existing tables use ``set_ttl``.

    ``zone_cols`` (creation only) opts the table into per-bucket zone
    maps: every commit records min/max of those numeric columns per
    affected bucket in the manifest, and
    ``read_keyed(zone_filter=(col, lo, hi))`` prunes bucket
    directories whose range cannot intersect — split elimination on
    NON-key predicates, complementing the key-range pruning the
    bucket layout already gives (and the write-side analogue of
    ``operators/zorder.py``'s file skipping).

    ``meta_extra`` merges application keys into the manifest in the
    SAME atomic commit as the data (e.g. a materialized view's refresh
    cursor) — either both land or neither does.  Core manifest keys
    cannot be overridden.

    ``seq_col`` is the explicit intra-batch write order (the stand-in
    for the HBase cell timestamp); without it, ties collapse
    deterministically by the row's full column tuple.  Naming it also
    registers the column as the table's version token — a sticky
    TABLE property consulted by ``changefeed_keyed``: writes that omit
    ``seq_col`` leave the registration in effect, a different name
    replaces it, and ``seq_col=""`` clears it (the column becomes
    ordinary payload again).  APPEND into an
    existing table reads and rewrites only the buckets the batch
    touches, staged to a sibling directory and swapped per-bucket.

    ``families`` maps column -> column-family name, mirroring the
    reference's multi-family field map (HBaseScheme.java:55,61-82);
    unmapped columns land in the default family ``"cf"``, the analogue
    of families auto-derived from the scheme (HBaseScheme.java:170-177).
    Families are fixed at table creation, like HBase's.

    ``retain`` (creation only) sets how many committed snapshots keep
    their data files on disk — the time-travel depth for
    ``read_keyed(..., generation=N)`` / ``rollback_keyed``.  Default 2
    (current + one-commit reader grace).

    Single-writer: concurrent writers raise ``ConcurrentWriteError``.
    """
    if key not in df.columns:
        raise ValueError(f"key column {key!r} not in {df.columns}")
    _check_ident(key, "key column")
    if seq_col:
        _check_ident(seq_col, "seq_col")
    for zc in zone_cols or []:
        _check_ident(zc, "zone column")
    if seq_col and (seq_col == key or seq_col not in df.columns):
        # fail fast BEFORE any manifest mutation: a typo'd registration
        # must not flip the table's version token and then crash later
        # in the merge (leaving manifest and data disagreeing)
        raise ValueError(
            f"seq_col {seq_col!r} must name a non-key column of the "
            f"batch (columns: {df.columns})"
        )
    if ttl is not None and (
        not isinstance(ttl, dict) or set(ttl) != {"col", "seconds"}
        or ttl["col"] not in df.columns
    ):
        raise ValueError(
            f"ttl must be {{'col': <batch column>, 'seconds': s}}, got {ttl!r}"
        )
    spark = df.sparkSession
    with _writer_lock(path):
        exists = _exists(path)
        if mode is SinkMode.KEEP and exists:
            # SinkMode.KEEP: never clobber an existing sink (Tap semantics).
            raise FileExistsError(f"keyed table already exists (SinkMode.KEEP): {path}")
        if mode is SinkMode.REPLACE and exists:
            # REPLACE drops and recreates (HBaseTap.java:124-128) — but
            # never silently over a LIVE registered savepoint: the drop
            # would destroy the restore point and the operator would
            # discover it only when the restore refuses (the same
            # surprise vacuum_keyed refuses to spring, r13).  Release
            # the savepoint (or let it expire) first.
            live = _live_savepoints(path)
            if live:
                raise SavepointPinnedError(
                    f"REPLACE of keyed table {path} would destroy live "
                    f"savepoint(s) {sorted(live)}; release_savepoint "
                    f"first (or let them expire)"
                )
            _delete_tree_checked(path)
            exists = False

        if not exists:
            if zone_cols:
                # fail fast BEFORE the eager localCheckpoint below: a
                # misspelled zone column should not pay a full batch
                # materialization to raise
                missing = [c for c in zone_cols if c not in df.columns]
                if missing:
                    raise ValueError(
                        f"zone_cols not in batch columns: {missing}"
                    )
            n_buckets = n_buckets or spark.sparkContext.defaultParallelism
            boundaries = _sample_boundaries(df, key, n_buckets)
            fam = families or {}
            family_map = {
                c: fam.get(c, "cf") for c in df.columns if c not in (key, SEQ_COL)
            }
            batch = _lww(
                df.withColumn(SEQ_COL, F.lit(0)), key, _order_cols(df.columns, key, seq_col)
            ).withColumn(BUCKET_COL, _bucket_expr(key, boundaries))
            if zone_cols:
                # pin the batch: the zone-map stats and the staged write
                # are two actions — a non-deterministic input plan
                # (rand/sample) re-evaluated between them could publish
                # rows outside the recorded bounds, turning zone pruning
                # lossy (same hazard merge_keyed pins against)
                batch = batch.localCheckpoint(eager=True)
            meta = {
                "key": key,
                "boundaries": boundaries,
                "next_seq": 1,
                "families": family_map,
                "schema": df.schema.json(),
                "gens": {},
                "last_gen": {},
                "version": 0,
                # incarnation identity: REPLACE restarts the version
                # counter, so version numbers alone cannot tell two
                # tables at the same path apart — derived artifacts
                # (secondary indexes, replicas) stamp this to detect
                # that their base was rebuilt under them
                "table_id": uuid.uuid4().hex,
            }
            if seq_col:
                # record the user's version-token column: changefeed
                # excludes it from change DETECTION (it is the
                # HBase-timestamp analogue — metadata, not payload)
                meta["seq_col"] = seq_col
            if retain is not None:
                meta["retain"] = retain
            if ttl is not None:
                # TTL rides the creation commit atomically (validated
                # at entry); existing tables change it via set_ttl
                meta["ttl"] = {
                    "col": ttl["col"], "seconds": float(ttl["seconds"]),
                }
            if zone_cols:
                # membership validated above, pre-checkpoint
                meta["zone_cols"] = list(zone_cols)
            _merge_meta_extra(meta, meta_extra)
            _stage_and_publish(batch, path, key, meta)
            return

        meta = _load_meta(path)
        _migrate_legacy(path, meta)
        if ttl is not None:
            # TTL is set at creation (rides the creation commit) or via
            # set_ttl on an existing table; silently dropping it here
            # would leave the caller believing the rows expire
            raise ValueError(
                f"ttl is fixed at table creation; the table at {path} "
                f"already exists — use set_ttl to change its policy"
            )
        if zone_cols and list(zone_cols) != meta.get("zone_cols", []):
            # fixed at creation, like families — silently switching would
            # leave earlier buckets without entries for the new columns
            raise ValueError(
                f"zone_cols are fixed at table creation "
                f"(table: {meta.get('zone_cols', [])}, got: {list(zone_cols)})"
            )
        _backfill_schema(spark, path, meta, df)
        # Additive schema evolution (HBase cells are schema-less per
        # qualifier — a new column in an APPEND batch is a new qualifier,
        # HBaseScheme.java value-field mapping): extend the manifest
        # schema, default the new columns' family, and null-fill both
        # sides of the merge.  Dropping columns is NOT supported — a
        # batch missing known columns simply writes nulls for them only
        # for its own keys' merged rows.
        declared = StructType.fromJson(json.loads(meta["schema"]))
        known = {f.name for f in declared.fields}
        new_fields = [
            f for f in df.schema.fields
            if f.name not in known and f.name not in (SEQ_COL, BUCKET_COL)
        ]
        if new_fields:
            meta["schema"] = StructType(
                list(declared.fields) + new_fields
            ).json()
            fam = meta.get("families", {})
            for f in new_fields:
                fam.setdefault(f.name, "cf")
            meta["families"] = fam
        boundaries = meta["boundaries"]
        seq = meta["next_seq"]
        # Persist the seq bump BEFORE the data write: if the merge crashes
        # and the batch replays, it gets a fresh seq — LWW order stays write
        # order instead of degrading to arbitrary column-tuple ties.
        meta["next_seq"] = seq + 1
        _save_meta(path, meta)
        # The version-token registration is a TABLE property (sticky
        # across writes that omit seq_col, replaced by a different name,
        # cleared by seq_col="") — mutated only AFTER the early seq-bump
        # save, so the flip rides the publish-time manifest write (the
        # commit point), like meta_extra: a write that fails mid-merge
        # must not re-register a table whose data it never changed.
        if seq_col:
            meta["seq_col"] = seq_col
        elif seq_col == "":
            meta.pop("seq_col", None)
        batch = df.withColumn(SEQ_COL, F.lit(seq)).withColumn(
            BUCKET_COL, _bucket_expr(key, boundaries)
        )
        # Pin the batch's contents before anything inspects it: the
        # affected-bucket collect and the staged write must see the SAME
        # rows even if the input plan is non-deterministic (rand/sample/
        # a source that changed between evaluations).  localCheckpoint
        # materializes the incoming delta once (the delta, not the
        # table — bounded by batch size at any scale) and also spares
        # re-running an expensive upstream plan twice.
        batch = batch.localCheckpoint(eager=True)
        # Only the buckets this batch touches participate in the merge;
        # every other bucket's generation pointer (and files) is untouched.
        affected = sorted(
            r[0] for r in batch.select(BUCKET_COL).distinct().collect()
        )
        current = _read_raw(spark, path, meta, buckets=set(affected))
        merged = _lww(
            current.unionByName(batch, allowMissingColumns=True),
            key,
            _order_cols(df.columns, key, seq_col),
        )
        _record_written_types(meta, merged)
        # Merged only now — NOT into the early seq-bump save above — so
        # a crash between the two cannot advance application cursors
        # without their data.
        _merge_meta_extra(meta, meta_extra)
        _stage_and_publish(merged, path, key, meta, affected)


# ---------------------------------------------------------------------------
# Read path
# ---------------------------------------------------------------------------

def _backfill_schema(
    spark: SparkSession, path: str, meta: dict, batch: DataFrame
) -> None:
    """Legacy manifests predate the stored schema, which every read now
    plans from: recover it from the live files (the inferring read),
    or from the batch when the table holds no data yet."""
    if "schema" in meta:
        return
    if meta.get("gens"):
        live = _read_raw(spark, path, meta).drop(SEQ_COL, BUCKET_COL)
        meta["schema"] = live.schema.json()
    else:
        meta["schema"] = batch.schema.json()


def _record_written_types(meta: dict, merged: DataFrame) -> None:
    """A batch column wider than the table's (bigint into an int
    column, say) is written at the type the merge's union coerced it
    to.  Record that type in the manifest, so reads plan with it and
    widen the older generations' files instead of failing on them."""
    declared = StructType.fromJson(json.loads(meta["schema"]))
    written = {f.name: f.dataType for f in merged.schema.fields}
    fields = [
        StructField(f.name, written[f.name], f.nullable, f.metadata)
        if f.name in written
        and written[f.name].simpleString() != f.dataType.simpleString()
        else f
        for f in declared.fields
    ]
    if fields != declared.fields:
        meta["schema"] = StructType(fields).json()


def _read_raw(
    spark: SparkSession,
    path: str,
    meta: dict,
    min_bucket: int | None = None,
    max_bucket: int | None = None,
    buckets: set[int] | None = None,
):
    """Scan through the manifest's generation pointers (exactly the
    committed snapshot; orphans are invisible).  Bucket-range (or
    arbitrary bucket-set) pruning happens HERE, driver-side, before any
    file listing — the analogue of the reference pruning regions before
    creating splits (TableInputFormatWrap.java:55-65).  Includes
    SEQ/BUCKET columns.

    The read is planned from the manifest: its stored schema (plus
    SEQ/BUCKET/GEN) is handed to the reader, so only the kept
    generation dirs are listed and no footer-inference job runs.  The
    same schema carries additive evolution: a generation written
    before a column existed reads it as typed nulls, in manifest
    order.  Only a legacy flat layout or a legacy-migrated manifest
    without a stored schema still infers from the files."""
    gens = meta.get("gens")
    if gens is None:  # legacy layout (flat bucket dirs)
        return spark.read.parquet(path)
    keep = {
        int(b): g
        for b, g in gens.items()
        if (min_bucket is None or int(b) >= min_bucket)
        and (max_bucket is None or int(b) <= max_bucket)
        and (buckets is None or int(b) in buckets)
    }
    schema_json = meta.get("schema")
    if not keep:
        if schema_json is None and gens:
            # legacy-migrated manifest without a stored schema: recover
            # it from any live generation (zero rows read)
            b, g = next(iter(sorted(gens.items())))
            any_path = os.path.join(path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{g}")
            return (
                spark.read.option("basePath", path)
                .parquet(any_path)
                .drop(GEN_COL)
                .filter(F.lit(False))
            )
        if schema_json is None:
            raise FileNotFoundError(
                f"keyed table {path} is empty and its manifest stores no schema"
            )
        schema = StructType.fromJson(json.loads(schema_json))
        empty = spark.createDataFrame([], schema)
        return empty.withColumn(SEQ_COL, F.lit(0)).withColumn(
            BUCKET_COL, F.lit(0)
        )
    paths = [
        os.path.join(path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{g}")
        for b, g in sorted(keep.items())
    ]
    reader = spark.read.option("basePath", path)
    if schema_json is not None:
        # SEQ is long: the writers stamp ``F.lit(seq)``, int32 on disk
        # until the counter passes 2^31-1, and the reader widens int32
        reader = reader.schema(
            StructType.fromJson(json.loads(schema_json))
            .add(SEQ_COL, LongType())
            .add(BUCKET_COL, IntegerType())
            .add(GEN_COL, IntegerType())
        )
    return reader.parquet(*paths).drop(GEN_COL)


def _meta_at(path: str, generation: int | None) -> dict:
    """Current manifest, or the committed snapshot ``generation`` with
    its data files verified still on disk.

    Time-travel readability is DETERMINISTIC, not file-presence-based:
    a generation older than the retention horizon — the newer of
    (current version − retain + 1) and the horizon recorded by the
    last ``vacuum_keyed`` — raises ``garbage-collected`` even when its
    bucket pointers happen to be shared with (and thus kept alive by)
    a retained snapshot.  A commit that changes no pointers (e.g. a
    delete routed entirely to empty buckets) must not silently extend
    its predecessor's time-travel lifetime past the documented
    contract."""
    if generation is None:
        return _load_meta(path)
    cur = _load_meta(path)
    if not 1 <= generation <= cur.get("version", 1):
        # before the horizon check: a generation that never existed
        # (0, negative, or beyond the current version) is "no such
        # snapshot", not "garbage-collected"
        raise FileNotFoundError(
            f"keyed table {path} has no snapshot v{generation} "
            f"(versions run 1..{cur.get('version', 1)})"
        )
    horizon = max(
        cur.get("version", 1) - cur.get("retain", DEFAULT_RETAIN) + 1,
        cur.get("vacuum_horizon", 1),
    )
    if generation < horizon and generation not in {
        e.get("version") for e in _live_savepoints(path).values()
    }:
        # a LIVE registered savepoint keeps its snapshot readable past
        # the retain window — its generations are exactly what the
        # per-commit GC pins (r13); everything else below the horizon
        # stays deterministically unreadable
        raise FileNotFoundError(
            f"generation {generation} of keyed table {path} has been "
            f"garbage-collected (retention horizon is v{horizon}); raise "
            f"retain= at table creation for deeper time travel"
        )
    meta = _load_history(path, generation)
    if meta is None:
        avail = list_generations(path)
        raise FileNotFoundError(
            f"keyed table {path} has no manifest snapshot v{generation}"
            f" (history: {avail})"
        )
    missing = [
        (b, g)
        for b, g in meta.get("gens", {}).items()
        if not _cp().dir_exists(os.path.join(path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{g}"))
    ]
    if missing:
        raise FileNotFoundError(
            f"generation {generation} of keyed table {path} has been "
            f"garbage-collected (missing bucket gens {missing}); raise "
            f"retain= at table creation for deeper time travel"
        )
    return meta


def read_keyed(
    spark: SparkSession,
    path: str,
    start=None,
    stop=None,
    fields: list[str] | None = None,
    family: str | None = None,
    generation: int | None = None,
    zone_filter: tuple | None = None,
) -> DataFrame:
    """Scan a keyed table, optionally range-pruned to [start, stop) and
    projected to ``fields`` with the key prepended
    (HBaseScheme.java:157-162 'prepend').  ``family`` projects to one
    column family's columns (key prepended) — the per-scheme family
    selection of MultiFamilyHBaseTest.java:58-62.

    ``generation=N`` reads the table AS OF commit N (time travel over
    the manifest history; the last ``retain`` commits are readable).

    A key range prunes twice: bucket directories via the partition
    column (split pruning, TableInputFormatWrap.java:55-65) and row
    groups via the pushed key predicate on sorted files.  The scan is
    planned from the manifest: no listing beyond the kept generation
    dirs and no footer-inference job; the schema is the manifest's,
    and columns added by a later schema evolution read as typed nulls
    from generations written before them.

    ``zone_filter=(col, lo, hi)`` (either bound may be None) prunes
    bucket directories by the manifest's per-bucket zone maps for a
    NON-key column (tables created with ``zone_cols``), then applies
    the row filter too — the result is exactly ``WHERE col BETWEEN``.
    Buckets without a zone entry for ``col`` are conservatively
    read."""
    meta = _meta_at(path, generation)
    key, boundaries = meta["key"], meta["boundaries"]
    min_b = _bucket_of(start, boundaries) if start is not None else None
    max_b = _bucket_of(stop, boundaries) if stop is not None else None
    zbuckets = None
    if zone_filter is not None:
        zcol, lo, hi = zone_filter
        if zcol == key:
            raise ValueError(
                "zone_filter is for non-key columns; use start/stop for "
                "the key range"
            )
        zm = meta.get("zone_maps", {})
        zbuckets = {
            int(b)
            for b, ent in zm.items()
            if zcol not in ent
            or (
                (hi is None or float(ent[zcol][0]) <= float(hi))
                and (lo is None or float(ent[zcol][1]) >= float(lo))
            )
        }
        # buckets the table has but the zone map never covered: keep
        zbuckets |= {
            int(b) for b in meta.get("gens", {}) if b not in zm
        }
    df = _read_raw(spark, path, meta, min_b, max_b, zbuckets)
    if zone_filter is not None:
        zcol, lo, hi = zone_filter
        if lo is not None:
            df = df.filter(F.col(zcol) >= lo)
        if hi is not None:
            df = df.filter(F.col(zcol) <= hi)
    if start is not None:
        df = df.filter(
            (F.col(BUCKET_COL) >= _bucket_of(start, boundaries))
            & (F.col(key) >= start)
        )
    if stop is not None:
        df = df.filter(
            (F.col(BUCKET_COL) <= _bucket_of(stop, boundaries))
            & (F.col(key) < stop)
        )
    if meta.get("ttl"):
        df = _ttl_filter(df, meta["ttl"])
    df = df.drop(SEQ_COL, BUCKET_COL)
    if family is not None:
        if fields is not None:
            raise ValueError("pass either fields= or family=, not both")
        fam_map = meta.get("families", {})
        if family not in set(fam_map.values()):
            raise KeyError(
                f"unknown column family {family!r}; table has "
                f"{sorted(set(fam_map.values()))}"
            )
        fields = [c for c in df.columns if fam_map.get(c) == family]
    if fields is not None:
        df = df.select(key, *[f for f in fields if f != key])
    return df


def get_keyed(
    spark: SparkSession,
    path: str,
    keys: list,
    fields: list[str] | None = None,
    generation: int | None = None,
) -> DataFrame:
    """Point lookups — the HBase Get / multi-Get
    (``HTable.get(List<Get>)``): fetch exactly the rows whose key is in
    ``keys`` (a plain Python list of key values, the point-query
    shape).

    Pruning is maximal: the requested keys route to their buckets
    driver-side (boundaries live in the manifest), ONLY those buckets'
    live generation dirs are listed, and the IN-list predicate pushes
    into the sorted parquet scan (row-group min/max skipping).  A
    1000-bucket table asked for 3 keys reads at most 3 buckets.  The
    schema comes from the manifest (no footer-inference job: collecting
    the result runs one Spark job), with evolved columns read as typed
    nulls."""
    if not keys:
        raise ValueError("get_keyed requires at least one key")
    meta = _meta_at(path, generation)
    key, boundaries = meta["key"], meta["boundaries"]
    wanted = {_bucket_of(k, boundaries) for k in keys}
    df = _read_raw(spark, path, meta, buckets=wanted)
    df = df.filter(F.col(key).isin(list(keys)))
    if meta.get("ttl"):
        df = _ttl_filter(df, meta["ttl"])
    df = df.drop(SEQ_COL, BUCKET_COL)
    if fields is not None:
        df = df.select(key, *[f for f in fields if f != key])
    return df


def delete_keyed(spark: SparkSession, path: str, keys: DataFrame) -> None:
    """Delete rows whose key appears in ``keys`` (single-column DF) —
    the Delete dispatch of TableOutputFormatWrap.java:79-84 as an
    anti-join rewrite of only the affected buckets."""
    with _writer_lock(path):
        meta = _load_meta(path)
        _migrate_legacy(path, meta)
        key, boundaries = meta["key"], meta["boundaries"]
        # Pin the key set before anything inspects it (same hazard the
        # append path defends against with localCheckpoint): a
        # non-deterministic keys plan (rand/sample/changed source) must
        # yield the SAME keys to the affected-bucket collect and the
        # anti-join, or a key could route to a bucket that is never
        # rewritten and silently survive.
        keys = keys.toDF(key).select(key).localCheckpoint(eager=True)
        affected = sorted(
            r[0]
            for r in keys.select(_bucket_expr(key, boundaries).alias("b"))
            .distinct()
            .collect()
        )
        current = _read_raw(spark, path, meta, buckets=set(affected))
        # Legacy-migrated manifests lack the stored schema; backfill it
        # from the live snapshot so a delete that empties the whole
        # table still leaves it readable (empty frame, right schema).
        meta.setdefault("schema", current.drop(SEQ_COL, BUCKET_COL).schema.json())
        remaining = current.join(keys, key, "left_anti")
        # Staged rewrite of only the affected buckets; a bucket emptied by
        # the delete is simply absent from the stage and loses its
        # generation pointer at commit.
        _stage_and_publish(remaining, path, key, meta, affected)



def table_version(path: str) -> int:
    """Current commit version of a keyed table — the optimistic-
    concurrency token.  Read it BEFORE computing a read-modify-write
    batch, pass it to ``merge_keyed(expected_version=...)``, and a
    concurrent commit between your read and your merge surfaces as
    ``StaleWriteError`` instead of silently clobbering state the batch
    never saw.  (The writer lock serializes the writes themselves; it
    cannot know your batch was derived from an older snapshot.)"""
    return _load_meta(path).get("version", 0)


def merge_keyed(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    change_col: str = "_change",
    seq_col: str | None = None,
    meta_extra: dict | None = None,
    expected_version: int | None = None,
) -> None:
    """MERGE: apply a mixed batch of inserts/updates/deletes in ONE
    atomic commit — the CDC-apply primitive the separate
    ``write_keyed``/``delete_keyed`` pair cannot give (two commits, a
    reader between them sees the half-applied state).

    ``changes`` carries the table's columns plus ``change_col`` in
    {'insert', 'update', 'delete'} (insert and update are both upserts
    — LWW decides).  A key both deleted and upserted in the same batch
    resolves delete-then-insert: the current row is removed and the
    batch's row survives.  Additive schema evolution applies like
    APPEND.  Only buckets touched by EITHER side are rewritten; the
    manifest flips once.

    ``expected_version`` (from ``table_version``) enables optimistic
    concurrency for read-modify-write cycles: the merge commits only
    if the table is still at that version, else ``StaleWriteError``.
    """
    if change_col not in changes.columns:
        raise ValueError(f"change column {change_col!r} not in {changes.columns}")
    with _writer_lock(path):
        meta = _load_meta(path)
        if (
            expected_version is not None
            and meta.get("version", 0) != expected_version
        ):
            raise StaleWriteError(
                f"keyed table {path} is at version {meta.get('version', 0)}, "
                f"caller expected {expected_version}: a concurrent commit "
                f"landed after the batch was derived — re-read and retry"
            )
        _migrate_legacy(path, meta)
        key, boundaries = meta["key"], meta["boundaries"]
        if seq_col:
            _check_ident(seq_col, "seq_col")
        if seq_col and (seq_col == key or seq_col not in changes.columns):
            # fail fast before any manifest mutation (see write_keyed)
            raise ValueError(
                f"seq_col {seq_col!r} must name a non-key column of the "
                f"changes batch (columns: {changes.columns})"
            )
        # Pin the batch once: the split, the affected-bucket collects and
        # the staged write must all see the same rows.
        changes = changes.localCheckpoint(eager=True)
        is_del = F.col(change_col) == "delete"
        upserts = changes.filter(~is_del).drop(change_col)
        del_keys = changes.filter(is_del).select(key)

        # additive schema evolution, same contract as write_keyed APPEND
        _backfill_schema(spark, path, meta, upserts)
        declared = StructType.fromJson(json.loads(meta["schema"]))
        known = {f.name for f in declared.fields}
        new_fields = [
            f for f in upserts.schema.fields
            if f.name not in known and f.name not in (SEQ_COL, BUCKET_COL)
        ]
        if new_fields:
            meta["schema"] = StructType(list(declared.fields) + new_fields).json()
            fam = meta.get("families", {})
            for f in new_fields:
                fam.setdefault(f.name, "cf")
            meta["families"] = fam

        seq = meta["next_seq"]
        # seq bump persists BEFORE the data write (crash-replay keeps
        # LWW order = write order; see write_keyed)
        meta["next_seq"] = seq + 1
        _save_meta(path, meta)
        # sticky table-level registration; "" clears — applied AFTER the
        # early save so the flip rides the publish-time commit, like
        # meta_extra (see write_keyed)
        if seq_col:
            meta["seq_col"] = seq_col
        elif seq_col == "":
            meta.pop("seq_col", None)
        batch = upserts.withColumn(SEQ_COL, F.lit(seq)).withColumn(
            BUCKET_COL, _bucket_expr(key, boundaries)
        )
        affected = sorted(
            {r[0] for r in batch.select(BUCKET_COL).distinct().collect()}
            | {
                r[0]
                for r in del_keys.select(
                    _bucket_expr(key, boundaries).alias("b")
                ).distinct().collect()
            }
        )
        current = _read_raw(spark, path, meta, buckets=set(affected))
        after_delete = current.join(del_keys, key, "left_anti")
        merged = _lww(
            after_delete.unionByName(batch, allowMissingColumns=True),
            key,
            _order_cols(upserts.columns, key, seq_col),
        )
        _record_written_types(meta, merged)
        # application metadata (e.g. a replica's sync cursor) commits in
        # the same atomic manifest flip as the applied changes
        _merge_meta_extra(meta, meta_extra)
        _stage_and_publish(merged, path, key, meta, affected)


def apply_changefeed(
    spark: SparkSession,
    path: str,
    feed: DataFrame,
    meta_extra: dict | None = None,
    seq_col: str | None = None,
) -> None:
    """Apply a ``changefeed_keyed`` diff to another keyed table — the
    replication loop: ``changefeed_keyed(primary, since)`` produces,
    ``apply_changefeed(replica, feed)`` consumes, and the replica
    converges to the primary's snapshot in one atomic commit.  The
    feed's optional ``_before`` pre-image column is ignored (only
    incremental aggregate maintenance needs it).

    ``seq_col`` forwards the PRIMARY's version-token registration so a
    changefeed taken over the target classifies on payload too —
    without it, cascaded replication re-grows the update-storm problem
    one hop downstream."""
    cols = [c for c in feed.columns if c != "_before"]
    merge_keyed(
        spark, path, feed.select(*cols), seq_col=seq_col,
        meta_extra=meta_extra,
    )


# ---------------------------------------------------------------------------
# Maintenance: compaction / re-bucketing / rollback
# ---------------------------------------------------------------------------

def compact_keyed(
    spark: SparkSession, path: str, n_buckets: int | None = None,
    min_files: int | None = None,
) -> None:
    """Rewrite fragmented storage into fresh generations — the
    engine-side compaction the reference delegated to HBase
    (TableInputFormatWrap.java:40-82 assumes the region server split and
    compacted regions behind the scenes).

    Major (default): every live bucket rewrites —
    - coalesces the per-bucket file count back to ~1 file per bucket
      (appends leave range-partitioned merge output: several files per
      touched bucket per generation);
    - with ``n_buckets``, RE-SAMPLES the range boundaries from the
      current keys and re-buckets the whole table — the answer to
      key-distribution drift after the creation-time boundaries went
      stale (the analogue of region re-splitting).

    Minor (``min_files=K``, HBase's minor compaction): only buckets
    whose live generation holds more than K data files rewrite; the
    rest keep their current generation untouched — the cheap periodic
    maintenance an append-heavy table runs, proportional to
    fragmentation, not table size.  Mutually exclusive with
    ``n_buckets`` (re-bucketing is inherently whole-table).

    Reads are bit-identical before/after; the swap is one atomic
    manifest flip, and the pre-compaction snapshot stays readable for
    one commit (reader grace) like any other commit."""
    if min_files is not None and n_buckets is not None:
        raise ValueError("min_files (minor) and n_buckets (re-bucket) are exclusive")
    with _writer_lock(path):
        meta = _load_meta(path)
        _migrate_legacy(path, meta)
        key = meta["key"]
        if min_files is not None:
            fragmented = []
            for b, g in meta.get("gens", {}).items():
                d = os.path.join(path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{g}")
                n = sum(1 for f in _cp().list_names(d) if f.endswith(".parquet"))
                if n > min_files:
                    fragmented.append(int(b))
            if not fragmented:
                return
            current = _read_raw(spark, path, meta, buckets=set(fragmented))
            if meta.get("ttl"):
                # purge TTL'd rows from the buckets being rewritten
                current = _ttl_filter(current, meta["ttl"])
            _stage_and_publish(
                current, path, key, meta, sorted(fragmented), by_bucket=True
            )
            return
        current = _read_raw(spark, path, meta).drop(BUCKET_COL)
        if meta.get("ttl"):
            # compaction is where TTL'd rows are physically purged
            current = _ttl_filter(current, meta["ttl"])
        if n_buckets is not None:
            meta["boundaries"] = _sample_boundaries(current, key, n_buckets)
            # Content-preservation hint for CDC pruning: this commit
            # remaps the physical layout but changes no logical row
            # (its input is exactly the previous snapshot's live rows;
            # the TTL purge only drops rows every later read's
            # wall-clock filter drops anyway).  ``cdc_prune.segments``
            # trusts a boundary change ONLY when the committing
            # manifest names its predecessor here — which is what lets
            # changefeed consumers stay O(touched buckets) ACROSS a
            # re-bucket instead of falling back to two full snapshot
            # reads (VERDICT r11 item 1).  Later unrelated commits
            # inherit the stale key harmlessly: the walk compares it
            # to the boundary-change predecessor, which only the
            # re-bucket commit itself names.
            meta["rebucket_src"] = meta.get("version", 1)
        batch = current.withColumn(
            BUCKET_COL, _bucket_expr(key, meta["boundaries"])
        )
        # Every currently-pointed bucket participates (buckets the new
        # boundaries empty lose their pointer) AND every id the new
        # boundaries can route to: re-bucketed rows may land in buckets
        # that never held a pointer, and the direct-commit writer's
        # orphan probes cover exactly the ``affected`` set — an id
        # outside it would append into a crashed attempt's leftovers.
        affected = sorted(
            {int(b) for b in meta.get("gens", {})}
            | set(range(len(meta["boundaries"]) + 1))
        )
        _stage_and_publish(batch, path, key, meta, affected, by_bucket=True)


def rollback_keyed(path: str, generation: int) -> None:
    """Roll the table back to committed snapshot ``generation`` (must
    still be within the ``retain`` window).  The rollback is itself a
    new commit: the old pointers become current again, ``next_seq``
    stays monotone (a replayed append can never collide with a seq the
    rolled-back-over commits used), and the pre-rollback snapshot keeps
    its one-commit reader grace."""
    with _writer_lock(path):
        cur = _load_meta(path)
        hist = _meta_at(path, generation)  # verifies files still on disk
        meta = dict(hist)
        # the historic manifest predates any later vacuum; the horizon
        # must survive the rollback or GC'd generations would look
        # readable again
        if cur.get("vacuum_horizon", 1) > hist.get("vacuum_horizon", 1):
            meta["vacuum_horizon"] = cur["vacuum_horizon"]
        meta["next_seq"] = max(cur.get("next_seq", 1), hist.get("next_seq", 1))
        last = dict(cur.get("last_gen", {}))
        for b, g in hist.get("last_gen", {}).items():
            last[b] = max(last.get(b, -1), g)
        meta["last_gen"] = last
        meta["version"] = cur.get("version", 1) + 1
        _save_meta(path, meta)  # <- the commit point
        _write_history(path, meta)
        _gc_orphans(path, meta)


def set_ttl(path: str, ts_col: str, seconds: float | None) -> None:
    """Declare row TTL (HBase per-family TTL,
    ``HColumnDescriptor.setTimeToLive`` — cells past their TTL vanish
    from scans and are purged at compaction): rows whose ``ts_col`` is
    older than ``seconds`` before the read's wall clock are filtered
    from every read, and physically dropped by ``compact_keyed``.
    ``seconds=None`` clears the TTL.  The change is itself a manifest
    commit, so time-travel reads of pre-TTL snapshots see all rows."""
    with _writer_lock(path):
        meta = _load_meta(path)
        if seconds is None:
            meta.pop("ttl", None)
        else:
            schema = StructType.fromJson(json.loads(meta["schema"]))
            if ts_col not in {f.name for f in schema.fields}:
                raise KeyError(f"ttl column {ts_col!r} not in table schema")
            meta["ttl"] = {"col": ts_col, "seconds": float(seconds)}
        meta["version"] = meta.get("version", 1) + 1
        _save_meta(path, meta)
        _write_history(path, meta)
        _gc_orphans(path, meta)


def _ttl_filter(df: DataFrame, ttl: dict) -> DataFrame:
    """Drop rows past their TTL relative to the plan-time wall clock
    (one deterministic cutoff per query, not per row evaluation)."""
    import time as _time

    from pyspark.sql.types import TimestampType

    cutoff = _time.time() - ttl["seconds"]
    c = F.col(ttl["col"])
    if isinstance(df.schema[ttl["col"]].dataType, TimestampType):
        return df.filter(c >= F.timestamp_seconds(F.lit(cutoff)))
    return df.filter(c.cast("double") >= F.lit(cutoff))


def changefeed_keyed(
    spark: SparkSession,
    path: str,
    from_generation: int,
    to_generation: int | None = None,
    include_old: bool = False,
) -> DataFrame:
    """Per-key diff between two committed snapshots: one row per key
    whose value changed between ``from_generation`` and
    ``to_generation`` (default: the current manifest), tagged
    ``_change`` in {'insert', 'update', 'delete'} and carrying the
    post-change row (the pre-delete row for deletes).

    The HBase analogue is a timestamp-bounded scan over versioned cells
    (the reference's tables kept cell versions server-side;
    HBaseScheme.java sets no explicit timestamps, so HBase stamped every
    Put).  Here the manifest history IS the version axis, and the diff
    is a single full-outer join shuffled on the table key — both sides
    are generation-pruned scans, so the cost is O(rows at the two
    snapshots), never O(history).

    ``include_old=True`` appends a ``_before`` struct column carrying
    the PRE-change row (null for inserts) — what incremental aggregate
    maintenance needs to retract an update's old contribution.

    The table's registered version-token column (the ``seq_col`` the
    writes ordered by — recorded in the manifest) is EXCLUDED from
    change detection, exactly like the HBase cell timestamp it stands
    in for: a write that re-ingests identical payload under a fresh
    seq is SILENT (empty feed), not a table-wide update storm — the
    difference between an idempotent re-run of an ingest job costing
    nothing downstream and it re-triggering every consumer.  The
    column still rides along in the emitted rows; a replica applying
    a feed therefore converges on payload, while its version-token
    column may lag the primary for payload-identical rewrites.

    The registration consulted is the one in effect AT
    ``to_generation`` (per-generation manifest history, not the
    current manifest): a later re-registration must not retroactively
    change which column a historical diff classifies on."""
    # Resolve the manifest ONCE and pin the open end: with
    # ``to_generation=None``, reading "current" twice (once for the
    # snapshot, once for this lookup) races a concurrent commit — the
    # diff could classify a pinned snapshot under a registration that
    # landed after it.  History snapshots are immutable, so pinning the
    # version number closes the race.
    meta = _meta_at(path, to_generation)
    if to_generation is None:
        to_generation = meta.get("version", 1)
    old_meta = _meta_at(path, from_generation)
    # TOUCHED-BUCKET PRUNING (r11, ported from the streaming source's
    # planner): a bucket whose generation pointer is identical at both
    # snapshots holds the same immutable file set, so no key in its
    # range changed — skip it on BOTH sides of the join.  The diff then
    # costs O(rows in touched buckets), not O(table): the difference
    # between an incremental refresh (replica sync, matview refresh,
    # index refresh all ride this) reading one bucket after a narrow
    # wave and re-scanning 100 TB twice.  The fast path requires
    # identical bucket boundaries and TTL policy at both ends plus a
    # generation-mapped manifest (legacy flat layouts read fully);
    # across a RE-BUCKETING compaction (boundaries differ) the r12
    # history walk in ``cdc_prune`` recovers per-SIDE bucket sets from
    # the re-bucket's content-preservation hint instead of falling
    # back to two full snapshot reads (VERDICT r11 item 1 — the last
    # O(table) cliff in the maintenance hot path).
    old_buckets: set[int] | None = None
    new_buckets: set[int] | None = None
    key_ranges: list[tuple] | None = None
    key = meta["key"]
    ob, nb = old_meta.get("gens"), meta.get("gens")
    if ob is not None and nb is not None:
        if (
            old_meta.get("boundaries") == meta.get("boundaries")
            # TTL is a READ-TIME filter carried by each version's
            # meta: a policy added/changed between the snapshots turns
            # rows into diff deletions WITHOUT moving any generation
            # pointer (set_ttl is a meta-only commit), so pointer-
            # equal buckets are only provably diff-free when the
            # policy is identical at both ends (r11 scenario-test
            # catch)
            and old_meta.get("ttl") == meta.get("ttl")
        ):
            old_buckets = new_buckets = {
                int(b) for b in set(ob) | set(nb) if ob.get(b) != nb.get(b)
            }
        else:
            from cascading_hbase_spark.keyed.cdc_prune import (
                prune_across_rebucket,
            )

            pruned = prune_across_rebucket(
                from_generation,
                old_meta,
                to_generation,
                meta,
                lambda v: _load_history(path, v),
            )
            if pruned is not None:
                # The bucket sets bound the scan; the key ranges bound
                # the JOIN: the two sides' covering buckets span
                # DIFFERENT key ranges (their bucket spaces differ
                # across the re-bucket), so without the symmetric
                # range restriction a key read by only one side would
                # surface as a spurious insert/delete.  The predicate
                # also pushes into the parquet scan (files are sorted
                # by key: row-group skipping).
                old_buckets, new_buckets, key_ranges = pruned

    def _range_cond(ranges: list[tuple]):
        cond = None
        for lo, hi in ranges:
            c = None
            if lo is not None:
                c = F.col(key) >= F.lit(lo)
            if hi is not None:
                c2 = F.col(key) < F.lit(hi)
                c = c2 if c is None else c & c2
            if c is None:  # (None, None): everything — no restriction
                return None
            cond = c if cond is None else cond | c
        return cond if cond is not None else F.lit(False)

    def _read_at(m: dict, buckets: set[int] | None) -> DataFrame:
        df = _read_raw(spark, path, m, buckets=buckets)
        if key_ranges is not None:
            c = _range_cond(key_ranges)
            if c is not None:
                df = df.filter(c)
        if m.get("ttl"):
            df = _ttl_filter(df, m["ttl"])
        return df.drop(SEQ_COL, BUCKET_COL)

    old = _read_at(old_meta, old_buckets)
    new = _read_at(meta, new_buckets)
    seq_token = meta.get("seq_col")
    # Conform both snapshots to the union of their columns (a snapshot
    # taken before an additive schema evolution lacks the newer columns
    # — they diff as typed nulls, so an evolution alone is no change).
    types = {f.name: f.dataType for df in (old, new) for f in df.schema.fields}
    cols = [c for c in types if c != key]

    def _struct(df: DataFrame, names: list[str]):
        return F.struct(
            *[
                F.col(c) if c in df.columns
                else F.lit(None).cast(types[c]).alias(c)
                for c in names
            ]
        )

    def _conform(df: DataFrame, side: str) -> DataFrame:
        return df.select(key, _struct(df, cols).alias(f"_{side}"))

    o = _conform(old, "old")
    n = _conform(new, "new")
    # The payload comparison (version token excluded) is derived from
    # the full-row structs AFTER the join — shipping a second,
    # near-duplicate _cmp struct through the full-outer shuffle would
    # roughly double the shuffled bytes per row for wide tables.
    if seq_token and seq_token in cols:
        payload = [c for c in cols if c != seq_token]
        # dropFields takes a field PATH: the name must be backtick-
        # quoted or a legal dotted column name parses as nesting
        esc = "`" + seq_token.replace("`", "``") + "`"
        differs = (
            ~F.col("_old").dropFields(esc).eqNullSafe(
                F.col("_new").dropFields(esc)
            )
            if payload
            # token-only table (no payload columns): an update — same
            # key, different payload — is impossible by definition, and
            # dropFields refuses to empty a struct
            else F.lit(False)
        )
    else:
        differs = ~F.col("_old").eqNullSafe(F.col("_new"))
    feed = (
        o.join(n, key, "full_outer")
        .withColumn(
            "_change",
            F.when(F.col("_old").isNull(), F.lit("insert"))
            .when(F.col("_new").isNull(), F.lit("delete"))
            .when(differs, F.lit("update")),
        )
        .filter(F.col("_change").isNotNull())
    )
    if include_old:
        return feed.select(
            key,
            "_change",
            F.coalesce("_new", "_old").alias("_row"),
            F.col("_old").alias("_before"),
        ).select(key, "_change", "_row.*", "_before")
    return feed.select(
        key, "_change", F.coalesce("_new", "_old").alias("_row")
    ).select(key, "_change", "_row.*")


class KeyedTable:
    """Object handle mirroring HBaseTap (table-by-name binding,
    HBaseTap.java:27,32-40 + lifecycle :44-101)."""

    def __init__(self, path: str, key: str = "key"):
        self.path = path
        self.key = key

    # --- lifecycle (HBaseTap.java:69-101) ---
    def exists(self) -> bool:
        return _exists(self.path)

    def drop(self) -> None:
        if _cp().dir_exists(self.path) or _exists(self.path):
            _delete_tree_checked(self.path)

    def modified_time(self) -> float:
        """Always 'now': a keyed sink is never up-to-date, forcing
        cascades to re-run flows into it (HBaseTap.java:65-67,103-105)."""
        import time

        return time.time()

    # --- IO ---
    def write(self, df: DataFrame, mode: SinkMode = SinkMode.APPEND,
              seq_col: str | None = None,
              families: dict[str, str] | None = None,
              retain: int | None = None) -> None:
        write_keyed(df, self.path, self.key, mode, seq_col,
                    families=families, retain=retain)

    def read(self, spark: SparkSession, start=None, stop=None,
             fields: list[str] | None = None,
             family: str | None = None,
             generation: int | None = None) -> DataFrame:
        return read_keyed(spark, self.path, start, stop, fields, family,
                          generation)

    def families(self) -> dict[str, str]:
        """column -> family map fixed at creation (HBaseScheme.java:61-82)."""
        return _load_meta(self.path).get("families", {})

    def delete(self, spark: SparkSession, keys: DataFrame) -> None:
        delete_keyed(spark, self.path, keys)

    # --- maintenance ---
    def compact(self, spark: SparkSession, n_buckets: int | None = None) -> None:
        compact_keyed(spark, self.path, n_buckets)

    def rollback(self, generation: int) -> None:
        rollback_keyed(self.path, generation)

    def generations(self) -> list[int]:
        return list_generations(self.path)

    def changefeed(
        self, spark: SparkSession, from_generation: int,
        to_generation: int | None = None,
    ) -> DataFrame:
        return changefeed_keyed(spark, self.path, from_generation, to_generation)

    def uri(self) -> str:
        """Identity for cascade dependency resolution — the analogue of
        'hbase://tableName' (HBaseTap.java:142-148)."""
        return f"keyed://{os.path.abspath(self.path)}"


def _carried_policies(meta: dict, df: DataFrame) -> dict:
    """Table-level policies a derived copy (clone, replica seed) must
    carry from its source manifest: version-token registration,
    non-default column families, zone-map columns, and row TTL —
    ``write_keyed`` kwargs, ready to splat.  ONE definition, shared by
    ``clone_keyed`` and ``replica.create_replica``, so the next policy
    added to ``write_keyed`` cannot silently diverge between them
    (``retain`` stays per-site by design: a clone takes a parameter, a
    replica mirrors its primary's window)."""
    seq = meta.get("seq_col")
    ttl = meta.get("ttl")
    return {
        "seq_col": seq if seq in df.columns else None,
        "families": {
            c: f for c, f in meta.get("families", {}).items() if f != "cf"
        } or None,
        "zone_cols": meta.get("zone_cols"),
        # TTL must ride the creation commit — a second set_ttl commit
        # would leave a crash window where the copy silently serves
        # (and never purges) expired rows.
        "ttl": ttl if ttl and ttl.get("col") in df.columns else None,
    }


def clone_keyed(
    spark: SparkSession,
    src: str,
    dst: str,
    generation: int | None = None,
    retain: int | None = None,
) -> None:
    """Clone a committed snapshot into a NEW independent table — the
    HBase snapshot/cloneSnapshot pair (the reference's tables got
    cheap server-side snapshots from HBase; here the clone is a fresh
    keyed table seeded from the source's current or time-travel
    snapshot).  The clone re-samples its own boundaries and starts its
    own history; subsequent writes to either table never interact.

    Table-level POLICIES carry over: column families, the version-token
    registration (``seq_col`` — a changefeed over the clone classifies
    on payload like the source's), zone-map columns, and row TTL.  Only
    the physical layout (boundaries) and the commit history restart."""
    # Resolve the manifest once and pin the generation before reading:
    # with generation=None, a source commit landing between the meta
    # load and the snapshot read would clone one version's data under
    # another version's policies.  History snapshots are immutable, so
    # pinning the version number closes the race.
    meta = _meta_at(src, generation)
    if generation is None:
        generation = meta.get("version", 1)
    df = read_keyed(spark, src, generation=generation)
    # The snapshot read above already filtered currently-expired rows;
    # the carried TTL keeps FUTURE rows expiring on the clone like the
    # source.
    write_keyed(
        df, dst, meta["key"], mode=SinkMode.REPLACE,
        retain=retain,
        **_carried_policies(meta, df),
    )


def composite_key(*cols: str, sep: str = "\x00") -> "Column":
    """Compose a multi-column key into one sortable string — the HBase
    idiom for compound rowkeys (HBase rowkeys are single byte strings;
    multi-attribute keys are delimiter-joined so lexicographic order
    nests the attributes).  Use the result as the keyed table's key
    column; range scans on a prefix then work via ``start=prefix``,
    ``stop=prefix + '\\xff'``.

    NULL components are encoded with an explicit marker (``\\x01``;
    non-null values are prefixed ``\\x02``) — ``concat_ws`` alone would
    silently SKIP nulls, colliding distinct compound keys like
    ``('a', NULL, 'b')`` and ``('a', 'b', NULL)`` into one rowkey and
    letting LWW merge unrelated rows.  Nulls sort before all values
    within their attribute position.  Component values must not contain
    ``sep``."""
    parts = [
        F.when(F.col(c).isNull(), F.lit("\x01")).otherwise(
            F.concat(F.lit("\x02"), F.col(c).cast("string"))
        )
        for c in cols
    ]
    return F.concat_ws(sep, *parts)


def composite_prefix(*values, sep: str = "\x00") -> tuple[str, str]:
    """(start, stop) bounds for a range scan over every composite key
    whose leading attributes equal ``values`` exactly: the encoded
    prefix is terminated with ``sep`` so a sibling value that merely
    starts with the same characters ('eu' vs 'eu2') is excluded."""
    enc = sep.join(
        "\x01" if v is None else "\x02" + str(v) for v in values
    ) + sep
    return enc, enc + "\xff"


def describe_keyed(spark: SparkSession, path: str) -> DataFrame:
    """Per-bucket observability: one row per live bucket with its
    current generation, file count, byte size, key-range bounds (from
    the manifest's bucket boundaries) and zone-map ranges (JSON, NULL
    when the table has no ``zone_cols``) — the 'is this table healthy /
    skewed / fragmented' view that decides whether ``compact_keyed``
    or a re-bucket is due.

    Driver-side metadata walk only (#buckets rows, no data read), same
    bound as split planning."""
    meta = _load_meta(path)
    boundaries = meta.get("boundaries", [])
    zm = meta.get("zone_maps", {})
    rows = []
    for b_str, gen in sorted(
        meta.get("gens", {}).items(), key=lambda kv: int(kv[0])
    ):
        b = int(b_str)
        gdir = os.path.join(path, f"{BUCKET_COL}={b}", f"{GEN_PREFIX}{gen}")
        files = [
            f for f in _cp().list_names(gdir) if f.endswith(".parquet")
        ]
        nbytes = sum(
            _cp().object_size(os.path.join(gdir, f)) for f in files
        )
        lo = str(boundaries[b - 1]) if 0 < b <= len(boundaries) else None
        hi = str(boundaries[b]) if b < len(boundaries) else None
        rows.append(
            (
                b, int(gen), len(files), int(nbytes), lo, hi,
                json.dumps(zm[b_str]) if b_str in zm else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "bucket int, generation int, n_files int, n_bytes bigint, "
        "key_lo string, key_hi string, zone_ranges string",
    )


def vacuum_keyed(path: str, retain: int = 1, force: bool = False) -> None:
    """Eagerly garbage-collect generation directories beyond the last
    ``retain`` commits — the manual space-reclaim lever (the automatic
    per-commit GC honors the table's standing ``retain`` policy; this
    call tightens ONE collection without changing that policy).

    ``retain=1`` keeps only the current snapshot: time travel to older
    commits stops working and any reader DataFrame planned against a
    pre-vacuum snapshot will fail on its next action — run it in a
    maintenance window, exactly like its warehouse namesakes.

    The vacuum records its retention horizon in the manifest, so
    time-travel reads below it fail loudly and deterministically —
    including generations whose files survive the GC because a
    retained snapshot shares every bucket pointer with them (a no-op
    commit makes that common).

    A LIVE registered savepoint below the requested horizon REFUSES
    the vacuum (``SavepointPinnedError``) — a routine GC must never
    silently invalidate the safety net an operator took before risky
    maintenance (r13; the restore already refused loudly after the
    fact, but the operator discovered the net was gone exactly when
    they needed it).  ``force=True`` proceeds AND deregisters the
    crossed savepoints — a force-vacuumed savepoint is gone, not
    lingering as a trap.  Expired savepoints never pin and are
    collected here."""
    if retain < 1:
        raise ValueError(f"retain must be >= 1, got {retain}")
    with _writer_lock(path):
        meta = _load_meta(path)
        all_sps = _load_savepoints(path)
        live_sps = _live_savepoints(path)
        req_horizon = meta.get("version", 1) - retain + 1
        crossed = {
            i: e for i, e in live_sps.items()
            if e.get("version", 1) < req_horizon
        }
        if crossed and not force:
            raise SavepointPinnedError(
                f"vacuum_keyed(retain={retain}) would garbage-collect "
                f"snapshots covered by live savepoint(s) "
                f"{sorted(crossed)} of keyed table {path} (versions "
                f"{sorted(e['version'] for e in crossed.values())} < "
                f"horizon v{req_horizon}); release_savepoint first, or "
                f"force=True to vacuum AND deregister them"
            )
        kept = {i: e for i, e in live_sps.items() if i not in crossed}
        if kept != all_sps:
            _save_savepoints(path, kept)
        # Persist the horizon BEFORE deleting anything: a crash between
        # the two must leave sub-horizon generations loudly unreadable
        # (the contract), never silently readable-again.  GC is
        # idempotent under the writer lock, so a crash after the save
        # just leaves garbage for the next vacuum/commit to collect.
        horizon = meta.get("version", 1) - retain + 1
        if horizon > meta.get("vacuum_horizon", 1):
            meta["vacuum_horizon"] = horizon
            _save_meta(path, meta)
        once = dict(meta)
        once["retain"] = retain
        _gc_orphans(path, once)
