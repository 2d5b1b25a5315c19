"""Multi-table atomic commit for maintenance chains (r10).

A ``MaintenanceFlow`` chain like *sync the replica, then refresh the
matview* is per-table atomic today: a crash between the two commits
leaves the pair observably inconsistent until the next run.  This
module makes the CHAIN transactional: every keyed commit inside a
``multi_commit(paths)`` block stages its manifest instead of flipping
it, and exit publishes ONE transaction document (a single
``write_json_atomic`` — the same all-or-nothing primitive every
manifest flip already uses, so on the object-store plane it is one
conditional PUT) that irrevocably decides the outcome, then applies
the per-table pointer flips.

Protocol (presumed-abort two-phase commit, recovery-completed):

1. STAGE — inside the block a proxy control plane intercepts
   ``write_json_atomic`` on the registered tables' manifest AND
   commit-history keys: the new documents are held in memory and
   served back to subsequent reads (chained ops see their own writes —
   a replica synced in the txn feeds the matview refresh its post-sync
   state, and a changefeed pinned to a staged version resolves its
   staged history snapshot), while data files and leases pass through
   unchanged.  Data files written under a staged manifest are
   INVISIBLE, exactly like a single-table commit's pre-flip window.
   Destructive whole-table operations (``SinkMode.REPLACE``, ``drop``)
   on a registered table are REFUSED inside the block — they delete
   the real tree immediately and therefore cannot be staged; an abort
   after one would have destroyed the table it promised to leave
   untouched.
2. DECIDE — on clean exit the transaction takes every registered
   table's writer lease (sorted order; held through the flips, so a
   live foreign writer is excluded from the whole commit sequence),
   verifies no table moved since its first read inside the block
   (else ``ConcurrentWriteError`` and nothing flips), stamps each
   staged manifest with the transaction id + base version, and
   publishes the full staged set atomically at ``txn_log``.  Before
   this write the transaction is nothing but orphan files (a crash
   aborts it; the next writer's standard orphan probes clean up);
   after it the transaction is committed even if the process dies.
3. FLIP — each table's manifest pointer is flipped to its staged
   document and its staged history snapshots are published (same
   manifest-then-history order as a single-table commit), then the
   transaction document is deleted.  A crash mid-flip is healed by
   ``recover_multi_commit`` (run automatically at the next
   ``multi_commit`` on the same ``txn_log``): a table already carrying
   this transaction's id is skipped, a table still at its recorded
   base version is flipped, and ANY other state — a foreign commit
   that landed in the crash window after the leases expired — raises
   ``TxnIntegrityError`` loudly instead of silently half-applying
   (the foreign commit built on the unflipped state and may have
   GC'd the transaction's staged files as orphans; flipping over it
   or skipping it silently would both corrupt — a human decides).

Honest contract notes: the OUTCOME is atomic (all tables flip or
none), the visibility INSTANT is not — a reader racing the flip loop
can see table A new while table B is still old for the duration of
step 3 (on a real object store, N tiny conditional PUTs).  That is the
same guarantee lakehouse multi-table transactions provide without a
shared catalog indirection, and the crash window is healed or
loudly surfaced, never silently leaked.  An ABORTED transaction may
also have let a staged commit's post-write GC collect one generation
beyond the retain window on the staged tables (GC passes through; see
test).  History-log PRUNES, by contrast, do NOT pass through: they
are staged like the writes and executed at FLIP (recorded in the
decision document, replayed by recovery), so an abort leaves the real
history log exactly as the un-advanced manifest expects it (r10
ADVICE).  The transaction swaps the PROCESS-GLOBAL control plane for the
duration of the block (the engine's documented injection model), so
keyed READS from other threads of this driver process during the block
observe staged state — run maintenance transactions from the single
maintenance driver, which is already the deployment contract;
concurrent/nested ``multi_commit`` in one process is refused.

Reference parity: the reference had no cross-table transactions at all
(HBase offers single-row atomicity; ``HBaseTap.java`` commits per
task) — this is engine surface the 100 TB maintenance story needs, not
a port.
"""

from __future__ import annotations

import contextlib
import copy
import os
import threading
import uuid
from collections.abc import Iterator

from cascading_hbase_spark.keyed.controlplane import (
    ConcurrentWriteError,
    ControlPlane,
    get_control_plane,
    use_control_plane,
)

__all__ = [
    "SavepointError",
    "TxnCommittedError",
    "TxnIntegrityError",
    "multi_commit",
    "recover_multi_commit",
    "release_savepoint",
    "restore_savepoint",
    "savepoint_keyed",
]

_META = "_kt_meta.json"
_HISTORY = "_kt_history"

# one transaction per driver process at a time (the plane swap is
# process-global; overlapping swaps would clobber each other's restore)
_ACTIVE = threading.Lock()


class TxnCommittedError(RuntimeError):
    """The transaction IS COMMITTED (its decision document was
    published) but the flip sequence failed before completing — e.g.
    an object-store lease re-verification error mid-flip.  Nothing is
    lost: ``recover_multi_commit`` (run automatically by the next
    ``multi_commit`` on the same ``txn_log``) completes the remaining
    flips.  Raised INSTEAD of the underlying error so the caller can
    never misread a decided transaction as an abort (r10 ADVICE)."""


class TxnIntegrityError(RuntimeError):
    """Recovery found a registered table in a state neither 'untouched
    since the decision' nor 'already flipped by this transaction' — a
    foreign commit interleaved in a crash window.  Completing OR
    skipping the flip silently would each corrupt; resolve manually
    (usually: rebuild the downstream tables of the chain)."""


def _meta_key(path: str) -> str:
    return os.path.join(path.rstrip("/"), _META)


def default_txn_log(paths: list[str]) -> str:
    """Sibling of the FIRST table, mirroring the lease/lock naming —
    pass the same ``paths`` order (or an explicit ``txn_log``) for a
    flow group so recovery always finds its own document."""
    return paths[0].rstrip("/") + "__kt_txn.json"


class _TxnControlPlane(ControlPlane):
    """Delegating proxy that defers manifest + history publishes of the
    registered tables: staged documents are held here and served back
    to reads; data trees, leases and GC pass through to the real plane.
    Whole-table deletes of a registered table are refused (they cannot
    be staged)."""

    def __init__(self, inner: ControlPlane, paths: list[str]):
        self._inner = inner
        self._roots = {p.rstrip("/") for p in paths}
        self._meta_keys = {_meta_key(p) for p in paths}
        self.staged: dict[str, dict] = {}
        self.staged_history: dict[str, dict] = {}
        self.staged_deletes: set[str] = set()
        self.base_version: dict[str, int] = {}

    def _history_owner(self, key: str) -> str | None:
        for root in self._roots:
            if key.startswith(root + "/" + _HISTORY + "/"):
                return root
        return None

    def _record_base(self, key: str, obj: dict | None) -> None:
        # the version the chain FIRST observed — any read or write may
        # be the first touch (closing the read-then-stage gap a
        # write-time capture would leave)
        if key in self._meta_keys and key not in self.base_version:
            self.base_version[key] = (obj or {}).get("version", 0)

    # -- interception ---------------------------------------------------

    def read_json(self, key: str) -> dict:
        if key in self.staged:
            return copy.deepcopy(self.staged[key])
        if key in self.staged_history:
            return copy.deepcopy(self.staged_history[key])
        if key in self.staged_deletes:
            # pruned inside the txn: serve the post-prune view the
            # chain's own commit produced
            raise FileNotFoundError(key)
        try:
            obj = self._inner.read_json(key)
        except FileNotFoundError:
            self._record_base(key, None)
            raise
        self._record_base(key, obj)
        return obj

    def write_json_atomic(self, key: str, obj: dict) -> None:
        if key in self._meta_keys:
            if key not in self.base_version:
                try:
                    self._record_base(key, self._inner.read_json(key))
                except FileNotFoundError:
                    self._record_base(key, None)
            self.staged[key] = copy.deepcopy(obj)
            return
        if self._history_owner(key) is not None:
            # defer history snapshots with their manifests: an aborted
            # transaction must not leave committed-looking snapshots in
            # the real log (published at FLIP, manifest-then-history —
            # the single-table commit's order)
            self.staged_history[key] = copy.deepcopy(obj)
            self.staged_deletes.discard(key)  # re-written after a prune
            return
        self._inner.write_json_atomic(key, obj)

    def object_exists(self, key: str) -> bool:
        if key in self.staged or key in self.staged_history:
            return True
        if key in self.staged_deletes:
            return False
        return self._inner.object_exists(key)

    def delete_quiet(self, key: str) -> None:
        if key in self.staged_history:
            # staged-only snapshot: it never reached the real plane, so
            # un-staging it IS the delete
            self.staged_history.pop(key)
            return
        if self._history_owner(key) is not None:
            # DEFER prune deletes of REAL history snapshots to FLIP
            # (r10 ADVICE): while the transaction is undecided the real
            # log must keep serving the un-advanced manifest's retained
            # window — an aborted transaction that had already pruned
            # the oldest retained snapshot would have permanently
            # removed history the real manifest still keeps.  Staged
            # like the writes; executed after the flips, recorded in
            # the decision document so recovery replays them.
            self.staged_deletes.add(key)
            return
        self._inner.delete_quiet(key)

    def delete_tree_quiet(self, prefix: str) -> None:
        if prefix.rstrip("/") in self._roots:
            raise ValueError(
                f"multi_commit: whole-table delete of registered table "
                f"{prefix} cannot be staged (SinkMode.REPLACE / drop "
                f"destroy the committed tree immediately, so an abort "
                f"could not leave the table untouched); run destructive "
                f"rebuilds outside the transaction"
            )
        self._inner.delete_tree_quiet(prefix)

    # -- pure delegation --------------------------------------------------

    def object_size(self, key: str) -> int:
        return self._inner.object_size(key)

    def list_names(self, prefix: str) -> list[str]:
        return self._inner.list_names(prefix)

    def dir_exists(self, prefix: str) -> bool:
        return self._inner.dir_exists(prefix)

    def ensure_dir(self, prefix: str) -> None:
        self._inner.ensure_dir(prefix)

    def move_object(self, src: str, dst: str) -> None:
        self._inner.move_object(src, dst)

    def writer_lease(self, table_path: str):
        return self._inner.writer_lease(table_path)


def _table_of_meta_key(key: str) -> str:
    return key[: -len("/" + _META)] if key.endswith("/" + _META) else key


def _publish_history(cp: ControlPlane, key: str, history: dict) -> None:
    """Idempotently publish one table's staged history snapshots."""
    prefix = _table_of_meta_key(key) + "/" + _HISTORY + "/"
    for hkey, hobj in history.items():
        if hkey.startswith(prefix):
            cp.write_json_atomic(hkey, hobj)


def _apply_one(cp: ControlPlane, key: str, staged: dict, history: dict) -> None:
    """Flip one table and publish its staged history snapshots —
    manifest first, then history, the single-table commit order."""
    cp.write_json_atomic(key, staged)
    _publish_history(cp, key, history)


def recover_multi_commit(txn_log: str) -> bool:
    """Complete a decided-but-unfinished transaction at ``txn_log``,
    then delete the document.  Returns whether a document was found.

    Per table: already carrying this transaction's id -> skip; still at
    the recorded base version -> flip; anything else -> loud
    ``TxnIntegrityError`` (a foreign commit interleaved — see module
    docstring), leaving the document in place for the operator."""
    cp = get_control_plane()
    try:
        doc = cp.read_json(txn_log)
    except FileNotFoundError:
        return False
    txn_id = doc.get("id")
    history = doc.get("history", {})
    with contextlib.ExitStack() as stack:
        for key in sorted(doc["tables"]):
            stack.enter_context(cp.writer_lease(_table_of_meta_key(key)))
        for key, staged in doc["tables"].items():
            base = staged.get("txn", {}).get("base", -1)
            try:
                cur = cp.read_json(key)
            except FileNotFoundError:
                cur = {}
            if txn_id is None:
                # document from a protocol version without txn ids:
                # best-effort version rule (the only signal it carries)
                if cur.get("version", 0) < staged.get("version", 0):
                    _apply_one(cp, key, staged, history)
                continue
            if cur.get("txn", {}).get("id") == txn_id:
                # this transaction's flip landed — but a crash inside
                # _apply_one may have preceded the table's history
                # publishes; republish idempotently before the document
                # (their only copy) is deleted (r10 review #2)
                _publish_history(cp, key, history)
                continue
            if cur.get("version", 0) == base:
                _apply_one(cp, key, staged, history)
                continue
            raise TxnIntegrityError(
                f"recovery of transaction {txn_id} at {txn_log}: table "
                f"{key} is at version {cur.get('version', 0)} (neither "
                f"its recorded base v{base} nor flipped by this "
                f"transaction) — a foreign commit interleaved in the "
                f"crash window; resolve manually before deleting the "
                f"transaction document"
            )
        # deferred history prunes travel with the decision; idempotent
        # (delete of an absent key no-ops), so replay is always safe
        for key in doc.get("deletes", []):
            cp.delete_quiet(key)
    cp.delete_quiet(txn_log)
    return True


@contextlib.contextmanager
def multi_commit(
    paths: list[str], txn_log: str | None = None
) -> Iterator[None]:
    """Run a maintenance chain whose keyed commits to ``paths`` land
    as ONE atomic multi-table transaction (see module docstring).

    Any exception inside the block aborts: no manifest flips, the
    chain's data files become invisible orphans cleaned by the next
    writer's standard probes.  After the decision document publishes,
    a failure mid-flip raises ``TxnCommittedError`` instead — the
    transaction IS committed and recovery completes it; only the
    block body itself can abort."""
    if not paths:
        raise ValueError("multi_commit needs at least one table path")
    if not _ACTIVE.acquire(blocking=False):
        raise ConcurrentWriteError(
            "multi_commit: another transaction is active in this "
            "process (the plane swap is process-global; transactions "
            "do not nest or overlap)"
        )
    try:
        inner = get_control_plane()
        log = txn_log or default_txn_log(paths)
        recover_multi_commit(log)  # heal a predecessor's crash first
        proxy = _TxnControlPlane(inner, paths)
        with use_control_plane(proxy):
            yield
        if not proxy.staged:
            return
        txn_id = uuid.uuid4().hex
        with contextlib.ExitStack() as stack:
            # leases across DECIDE -> FLIP on EVERY registered table
            # (staged or read-only — the pre-flight version check
            # covers both, and the lease keeps it from going stale
            # before the flips): a live foreign writer is excluded from
            # the entire commit sequence; only a crash — leases
            # expiring — opens the window recovery then polices
            for root in sorted(proxy._roots):
                stack.enter_context(inner.writer_lease(root))
            # pre-flight under the leases: refuse to decide over a
            # table that moved since the chain first observed it
            for key, base in proxy.base_version.items():
                try:
                    cur = inner.read_json(key).get("version", 0)
                except FileNotFoundError:
                    cur = 0
                if cur != base:
                    raise ConcurrentWriteError(
                        f"multi_commit: {key} advanced from v{base} to "
                        f"v{cur} during the transaction; aborting "
                        f"(nothing flipped)"
                    )
            for key in proxy.staged:
                proxy.staged[key]["txn"] = {
                    "id": txn_id,
                    "base": proxy.base_version.get(key, 0),
                }
            # DECIDE: one atomic publish — the outcome is committed here
            inner.write_json_atomic(
                log,
                {
                    "id": txn_id,
                    "tables": proxy.staged,
                    "history": proxy.staged_history,
                    # deferred history prunes (delete_quiet under a
                    # registered table's history prefix) — replayed by
                    # recovery like the flips
                    "deletes": sorted(proxy.staged_deletes),
                },
            )
            # FLIP under the held leases; a crash is healed by
            # recover_multi_commit on the same txn_log.  From here on
            # the transaction is DECIDED: any failure must surface as
            # committed-pending-recovery, never look like an abort.
            try:
                for key, staged in proxy.staged.items():
                    _apply_one(inner, key, staged, proxy.staged_history)
                for key in sorted(proxy.staged_deletes):
                    inner.delete_quiet(key)
                inner.delete_quiet(log)
            except BaseException as e:
                raise TxnCommittedError(
                    f"multi_commit: transaction {txn_id} IS COMMITTED "
                    f"(decision document published at {log}) but the "
                    f"flip sequence failed mid-way: {e!r}.  "
                    f"recover_multi_commit({log!r}) — run automatically "
                    f"by the next multi_commit on this txn_log — will "
                    f"complete the remaining flips; do NOT treat this "
                    f"as an abort"
                ) from e
    finally:
        _ACTIVE.release()


# ---------------------------------------------------------------------------
# Cross-table savepoints
# ---------------------------------------------------------------------------

class SavepointError(RuntimeError):
    """The savepoint cannot be restored: a table was REPLACEd since
    the cut (its version counter restarted — the recorded version now
    names a different table's history), or the cut fell out of a
    table's retention window."""


def savepoint_keyed(
    paths: list[str],
    name: str | None = None,
    expires_at: float | None = None,
) -> dict:
    """A CONSISTENT cross-table cut: ``{path: {"version": v,
    "table_id": id}}`` plus a ``"_sp"`` identity entry, taken with
    every table's writer lease held (sorted acquisition, the same
    order the commit protocol uses) so the cut can never split a
    ``multi_commit`` transaction — either all of a transaction's flips
    are inside the cut or none are.  Driver-side metadata reads only;
    no data is copied (the snapshot IS the manifest history, like
    ``rollback_keyed``'s time travel).

    The savepoint is REGISTERED in every covered table's savepoint
    registry under the same held leases (r13): the per-commit GC and
    history pruning PIN the covered snapshots past the retain window,
    and ``vacuum_keyed`` refuses to cross a live savepoint (a routine
    GC must not silently invalidate the safety net) unless forced.
    ``expires_at`` (epoch seconds) bounds the pin — an expired
    savepoint stops pinning immediately and its registry entry is
    collected by the next locked writer — so a forgotten savepoint
    can never pin 100 TB of history forever; ``None`` pins until
    ``release_savepoint``.  ``name`` overrides the generated id (a
    re-registration under the same name replaces the old pin)."""
    if not paths:
        raise ValueError("savepoint_keyed needs at least one table path")
    from cascading_hbase_spark.keyed.table import register_savepoint

    sp_id = name or uuid.uuid4().hex[:12]
    cp = get_control_plane()
    out: dict = {}
    with contextlib.ExitStack() as stack:
        for p in sorted(set(paths)):
            stack.enter_context(cp.writer_lease(p.rstrip("/")))
        for p in paths:
            try:
                meta = cp.read_json(_meta_key(p))
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"savepoint_keyed: no keyed table at {p}"
                ) from None
            out[p] = {
                "version": meta.get("version", 1),
                "table_id": meta.get("table_id"),
            }
        for p in paths:
            register_savepoint(
                p, sp_id, out[p]["version"], expires_at=expires_at
            )
    out["_sp"] = {"id": sp_id, "expires_at": expires_at}
    return out


def release_savepoint(sp: dict) -> None:
    """Drop a registered savepoint's pins from every table it covers
    (idempotent — releasing twice, or after a force-vacuum already
    deregistered it, is a no-op).  The freed snapshots become ordinary
    history: collected by the next commit's GC once outside the retain
    window."""
    info = sp.get("_sp")
    if not info:
        raise ValueError(
            "release_savepoint: savepoint dict carries no '_sp' "
            "identity (pre-registration savepoint?); nothing to release"
        )
    from cascading_hbase_spark.keyed.table import deregister_savepoint

    for p in sorted(k for k in sp if not k.startswith("_")):
        deregister_savepoint(p, info["id"])


def restore_savepoint(sp: dict, txn_log: str | None = None) -> None:
    """Roll EVERY table in the savepoint back to its recorded version
    as ONE atomic multi-table transaction (``multi_commit`` over
    per-table ``rollback_keyed``): all tables restore or none do — a
    failed restore (a version below a table's retention horizon, a
    concurrent writer) leaves the group exactly as it was.

    A table REPLACEd since the cut refuses (``SavepointError``): its
    version counter restarted, so the recorded version names a
    different incarnation's history.  Tables already at the savepoint
    version are left untouched (no empty commit), but still
    participate in the transaction's pre-flight version check — a
    concurrent commit to ANY table in the group aborts the restore.
    Restoring the same savepoint twice converges (rollback is itself
    a commit; the second restore rolls back over the first)."""
    from cascading_hbase_spark.keyed.table import _load_meta, rollback_keyed

    sp = {p: e for p, e in sp.items() if not p.startswith("_")}
    if not sp:
        raise ValueError("restore_savepoint: empty savepoint")
    for p, ent in sorted(sp.items()):
        meta = _load_meta(p)
        if meta.get("table_id") != ent.get("table_id"):
            raise SavepointError(
                f"restore_savepoint: {p} was replaced since the "
                f"savepoint (incarnation changed); the recorded "
                f"version {ent.get('version')} names a different "
                f"table's history"
            )
    with multi_commit(sorted(sp), txn_log=txn_log):
        for p in sorted(sp):
            cur = _load_meta(p)
            if cur.get("table_id") != sp[p].get("table_id"):
                raise SavepointError(
                    f"restore_savepoint: {p} was replaced between the "
                    f"pre-check and the transaction"
                )
            if cur.get("version") != sp[p]["version"]:
                try:
                    rollback_keyed(p, sp[p]["version"])
                except (FileNotFoundError, KeyError, ValueError) as e:
                    raise SavepointError(
                        f"restore_savepoint: {p} cannot roll back to "
                        f"v{sp[p]['version']} (fell below the "
                        f"retention/vacuum horizon?): {e}"
                    ) from e
