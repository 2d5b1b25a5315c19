"""Incremental keyed-table replication.

``changefeed_keyed`` (diff) + ``apply_changefeed`` (MERGE) compose into
a pull-based replica: each sync ships only the keys that changed since
the last one.  The replica's cursor — the primary generation last
applied — commits in the SAME atomic manifest flip as the applied data
(``meta_extra``, exactly the matview refresh-cursor pattern at
``keyed/matview.py``), so a crash leaves either the old consistent
(cursor, data) pair or the new one; replaying a sync is always safe.

The reference's deployments got replication from HBase itself
(cluster-level WAL shipping); here it is an explicit, testable operator
over the manifest history.  Cost per sync: one generation-pruned diff
join (O(rows at the two snapshots)) + a MERGE rewriting only the
buckets the changed keys land in.

Lag bound: the primary's ``retain`` depth.  A replica that falls more
than ``retain`` generations behind raises ``StaleReplicaError`` —
rebuild with ``create_replica``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from cascading_hbase_spark.keyed.table import (
    DEFAULT_RETAIN,
    SinkMode,
    _attach_stream_stamp,
    _carried_policies,
    _load_meta,
    apply_changefeed,
    changefeed_keyed,
    read_keyed,
    write_keyed,
)

__all__ = [
    "StaleReplicaError",
    "attach_replica_stream_stamp",
    "create_replica",
    "sync_replica",
]


class StaleReplicaError(RuntimeError):
    """The replica's cursor generation is no longer retained on the
    primary; the incremental diff cannot be computed.  Rebuild with
    ``create_replica``."""


def create_replica(
    spark: SparkSession, primary_path: str, replica_path: str
) -> None:
    """(Re)seed the replica from the primary's CURRENT snapshot and
    record the cursor."""
    meta = _load_meta(primary_path)
    version, key = meta["version"], meta["key"]
    # Pin the copy to the version just captured (a primary commit
    # landing in between must not slip in ahead of the cursor).
    snap = read_keyed(spark, primary_path, generation=version)
    # Carry the primary's table-level policies (the shared
    # _carried_policies set clone_keyed uses, for the same reasons):
    # the version-token registration — a changefeed taken over the
    # REPLICA must classify on payload too, or cascaded replication
    # re-grows the update-storm problem one hop down — plus families,
    # zone maps, and row TTL.  TTL in particular: a row expiring
    # BETWEEN two syncs is absent from both sides of the diff (no
    # delete is ever emitted), so a replica without its own TTL would
    # serve the expired row forever.
    write_keyed(
        snap,
        replica_path,
        key,
        mode=SinkMode.REPLACE,
        **_carried_policies(meta, snap),
        # match the primary's time-travel depth: the replica serves the
        # same snapshot window its primary does
        retain=meta.get("retain"),
        # of_id pins the primary INCARNATION: REPLACE restarts the
        # version counter, so a later sync must not mistake the new
        # table's version N for the one the cursor names
        meta_extra={"replica": {
            "of": primary_path,
            "of_id": meta.get("table_id"),
            "cursor": version,
        }},
    )


def attach_replica_stream_stamp(replica_path: str, checkpoint: str) -> None:
    """Stamp ``stream: {checkpoint, batch_id: -1}`` into the follower's
    ``replica`` manifest entry at STREAM ATTACH time — a meta-only
    commit (the ``set_ttl`` pattern), mirroring
    ``matview.attach_stream_stamp``.

    The stamp is what lets ``stream_replica`` cross-check the
    checkpoint's planned-offset log against the follower's APPLIED
    state at every stream start (r11 ADVICE): without it, an existing
    follower attached to a foreign checkpoint whose offsets run AHEAD
    of what this follower applied silently skips the interval between
    them — and unlike a matview there is no non-idempotent delta to
    corrupt loudly, so the divergence is permanent and undetected.
    Idempotent for the same checkpoint; a different one raises (one
    stream per follower)."""
    _attach_stream_stamp(
        replica_path, "replica", checkpoint, StaleReplicaError, "create_replica"
    )


def sync_replica(
    spark: SparkSession, primary_path: str, replica_path: str
) -> bool:
    """Apply the primary's changes since the last sync.  Returns False
    when already current.  One atomic commit: cursor + data together."""
    rmeta = _load_meta(replica_path)
    rep = rmeta.get("replica")
    if rep is None:
        raise ValueError(f"{replica_path} is not a replica (create_replica first)")
    cursor = rep["cursor"]
    pmeta = _load_meta(primary_path)
    version = pmeta["version"]
    if (
        rep.get("of_id") is not None
        and rep["of_id"] != pmeta.get("table_id")
    ):
        # REPLACE restarted the primary's version counter: the cursor
        # names a dead incarnation's history — never a quiet diff.
        raise StaleReplicaError(
            f"primary {primary_path} was replaced since the replica was "
            f"seeded; rebuild with create_replica"
        )
    if rep.get("of_id") is None:
        # Pre-incarnation-stamp replica: the cursor NUMBER alone cannot
        # prove which incarnation it names, so it must never reach the
        # diff — and not even cursor == version is safe to adopt: a
        # REPLACEd primary whose new incarnation's version count
        # happens to equal the cursor would stamp a STALE replica with
        # the new table_id and report it current (r10 ADVICE;
        # supersedes the r09 stamp-when-current rule).  Whenever the
        # primary carries a table_id, the rebuild signal is the only
        # provably-safe answer — one-time, thanks to the every-commit
        # table_id backfill.  A primary with NO table_id (never
        # committed under stamping code) leaves nothing to prove
        # lineage against either way: the current-cursor case reports
        # current with the coincidence window explicitly accepted (it
        # closes at the primary's next commit, which backfills the id).
        if pmeta.get("table_id") is None and cursor == version:
            return False
        raise StaleReplicaError(
            f"replica {replica_path} predates incarnation stamping "
            f"(cursor {cursor}, primary version {version}); the cursor "
            f"alone cannot prove the primary was not replaced — "
            f"rebuild with create_replica"
        )
    if version == cursor:
        return False
    # The readable horizon is the newer of the retain window and the
    # last vacuum's recorded horizon — the exact rule _meta_at
    # enforces; checking only retain would let a vacuumed-away cursor
    # reach the diff and die with FileNotFoundError instead of the
    # documented rebuild signal.  cursor > version is the same story
    # for a rolled-back-and-replaced history.
    horizon = max(
        version - pmeta.get("retain", DEFAULT_RETAIN) + 1,
        pmeta.get("vacuum_horizon", 1),
    )
    if cursor < horizon or cursor > version:
        raise StaleReplicaError(
            f"primary generation {cursor} no longer retained at "
            f"{primary_path} (readable horizon {horizon}, version "
            f"{version}); rebuild with create_replica"
        )
    try:
        feed = changefeed_keyed(
            spark, primary_path, cursor, to_generation=version
        )
    except FileNotFoundError as e:
        # Belt over the horizon gate's suspenders: ANY unreadable-
        # cursor case the gate's re-derivation misses (e.g. the
        # HISTORY_KEEP manifest-log prune on a deep-retain table)
        # still surfaces as the documented rebuild signal, and can
        # never drift from _meta_at's readability rule.
        raise StaleReplicaError(
            f"primary generation {cursor} is no longer readable at "
            f"{primary_path} ({e}); rebuild with create_replica"
        ) from None
    # Mirror the primary's version-token registration exactly: forward
    # it when set, clear the replica's ("") when the primary
    # deregistered, leave untouched (None) when both agree already —
    # see write_keyed's sticky-registration contract.
    pseq = pmeta.get("seq_col")
    if pseq and pseq in feed.columns:
        fwd_seq = pseq
    elif not pseq and rmeta.get("seq_col"):
        fwd_seq = ""
    else:
        fwd_seq = None
    apply_changefeed(
        spark,
        replica_path,
        feed,
        meta_extra={"replica": {
            **rep,
            "cursor": version,
            # invariant re-stamp: the None-of_id gate above means any
            # replica reaching the diff already carries this id
            "of_id": pmeta.get("table_id"),
        }},
        seq_col=fwd_seq,
    )
    return True
