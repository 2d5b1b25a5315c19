"""Injectable control plane for the keyed storage engine.

The keyed layer's DATA plane is already object-store-portable (buckets
are plain parquet directories written/read through Spark, so a table
``path`` can be ``s3a://...`` for every scan/merge the engine plans).
The CONTROL plane — manifest commits, the commit-history log, writer
mutual exclusion, listing and GC — was a set of POSIX
calls spread through ``keyed/table.py``.  This module is the seam those
calls now go through: a small abstract interface with the local-
filesystem implementation as the default, so a cloud port swaps ONE
class instead of auditing the engine (the r08 verdict's item: convert
the 100 TB readiness claim from prose to a seam).

Placement mirrors the reference's own client-side control plane:
``HBaseTap.java:69-93,123-132`` does table lifecycle from the CLIENT
(admin connection) while the region servers own the data path — here
the driver owns the control plane while executors own the parquet I/O.

Every method's docstring states its object-store port (from the design
note this module supersedes; see also ``API.md``):

- atomic manifest flip        -> conditional PUT (ETag /
  ``ifGenerationMatch``) of a versioned manifest object + a tiny
  latest-pointer object;
- writer lease                -> conditional-PUT lease object with
  TTL/heartbeat, or an external lock table;
- listing-as-truth            -> plan from the manifest's generation
  pointers, never LIST (also dodges eventual-consistency stragglers);
  GC by manifest diff (batch-delete of keys no retained manifest
  references).

Data files need no control-plane call to commit on any plane: the
engine writes them DIRECTLY at their final generation keys, where they
stay invisible until the manifest references them — the manifest flip
IS the commit point, so nothing is ever staged or renamed.

Single-process injection model: the control plane is driver-side state
(``keyed/table.py`` runs its control flow on the driver; executors
only ever touch data files through Spark), so a module-level default +
``set_control_plane`` is sufficient — no per-call plumbing through the
public API, whose signatures stay path-string-only.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from abc import ABC, abstractmethod
from collections.abc import Iterator

__all__ = [
    "ConcurrentWriteError",
    "ControlPlane",
    "LocalFSControlPlane",
    "get_control_plane",
    "plane_from_spec",
    "set_control_plane",
    "use_control_plane",
]


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted to mutate a keyed table while another
    live process held its writer lease."""


class ControlPlane(ABC):
    """Driver-side metadata/commit operations of the keyed engine.

    Keys are the same strings the engine uses as filesystem paths; an
    object-store implementation treats them as object keys/prefixes.
    Contract notes that implementations MUST honor:

    - ``read_json`` raises ``FileNotFoundError`` for a missing key
      (the engine's probes catch exactly that);
    - ``write_json_atomic`` is all-or-nothing AND is the engine's
      commit point: a reader concurrently calling ``read_json`` sees
      either the previous document or the new one, never a torn write;
    - ``list_names`` returns immediate child names (not full keys) and
      ``[]`` for a missing prefix;
    - ``delete_tree_quiet``/``delete_quiet`` are idempotent (absent
      targets are not an error) — GC and crash-cleanup call them
      repeatedly.
    """

    # -- small JSON objects (manifest, commit history) ------------------

    @abstractmethod
    def read_json(self, key: str) -> dict:
        """Load one JSON document.  Raises ``FileNotFoundError`` when
        absent.  Object-store port: GET of the versioned manifest the
        latest-pointer names."""

    @abstractmethod
    def write_json_atomic(self, key: str, obj: dict) -> None:
        """Publish one JSON document atomically — THE commit primitive.
        Object-store port: conditional PUT (S3 ``If-None-Match``/ETag,
        GCS ``ifGenerationMatch``) of a NEW versioned object plus a
        latest-pointer flip; a failed precondition surfaces as
        ``ConcurrentWriteError`` (a competing commit won)."""

    @abstractmethod
    def object_exists(self, key: str) -> bool:
        """Existence probe for one object (the engine's table-exists
        check probes the manifest key).  Object-store port: HEAD."""

    @abstractmethod
    def delete_quiet(self, key: str) -> None:
        """Best-effort single-object delete (history-log pruning);
        absent keys are not an error."""

    @abstractmethod
    def object_size(self, key: str) -> int:
        """Size in bytes of one object (``describe_keyed``'s per-bucket
        byte totals).  Object-store port: HEAD content-length."""

    # -- trees / listings ----------------------------------------------

    @abstractmethod
    def list_names(self, prefix: str) -> list[str]:
        """Immediate child names under ``prefix`` (``[]`` if absent).
        The local engine uses this for bucket/generation discovery, GC
        and observability.  Object-store port: NONE for the planning
        paths — plan from the manifest's ``gens`` pointers instead of
        listing (the manifest is the truth; LIST is only for offline
        fsck) — and delimiter-LIST for observability tooling."""

    @abstractmethod
    def dir_exists(self, prefix: str) -> bool:
        """Does the prefix exist as a directory/common prefix."""

    @abstractmethod
    def ensure_dir(self, prefix: str) -> None:
        """Create the prefix if needed (no-op where directories are
        virtual, i.e. every object store)."""

    @abstractmethod
    def delete_tree_quiet(self, prefix: str) -> None:
        """Recursive delete of everything under ``prefix`` (generation
        GC, REPLACE, crashed-write cleanup); absent prefixes are not an
        error.  Object-store port: batch-delete of the keys the retained
        manifests no longer reference — computable from the manifest
        diff, no LIST required (the generation layout guarantees a
        dropped generation's keys share its prefix)."""

    @abstractmethod
    def move_object(self, src: str, dst: str) -> None:
        """Single-object move (legacy-layout migration only).
        Object-store port: server-side copy + delete."""

    # -- cross-process reconstruction ----------------------------------

    def plane_spec(self) -> dict | None:
        """A JSON-serializable spec from which ``plane_from_spec`` can
        rebuild an EQUIVALENT plane in ANOTHER process — what the
        changefeed streaming source ships to its planning worker (a
        separate Python process that must see the same manifests this
        driver sees).  A real cloud plane returns its endpoint/bucket/
        credential-reference here, exactly what any Spark connector
        passes through reader options.  ``None`` = this plane's state
        is process-local and cannot be reconstructed (the in-memory
        emulated store); consumers must refuse rather than silently
        read the local filesystem."""
        return None

    # -- writer mutual exclusion ---------------------------------------

    @abstractmethod
    def writer_lease(self, table_path: str) -> contextlib.AbstractContextManager:
        """Exclusive per-table writer lease; entering while another
        LIVE writer holds it raises ``ConcurrentWriteError``, and a
        lease from a dead holder is reclaimed by exactly one contender.
        Object-store port: conditional-PUT lease object carrying a
        TTL/heartbeat (reclaim = the TTL expiring), or an external
        coordinator (DynamoDB-style lock table).  The engine calls this
        around every mutation, including vacuum (``vacuum_horizon``
        keeps its single-writer assumption — it is written under the
        same lease)."""


def local_lock_path(path: str) -> str:
    # Sibling of the table dir so REPLACE's delete_tree can't remove a
    # held lock out from under its holder.
    return path.rstrip("/") + "__kt_lock"


def _pid_alive(pid: int) -> bool:
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


class LocalFSControlPlane(ControlPlane):
    """The default: a POSIX filesystem the driver can see (local mode,
    or a cluster whose driver mounts the shared FS).  Atomicity comes
    from ``os.replace``; the lease is an ``os.link``-claimed pid file
    with dead-pid reclaim settled by ``os.rename`` (single-host writer
    detection; true multi-host exclusion needs the lease-object port —
    the documented deployment contract is single writer per table)."""

    def read_json(self, key: str) -> dict:
        with open(key) as f:
            return json.load(f)

    def write_json_atomic(self, key: str, obj: dict) -> None:
        self.ensure_dir(os.path.dirname(key))
        tmp = key + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, key)

    def object_exists(self, key: str) -> bool:
        return os.path.isfile(key)

    def delete_quiet(self, key: str) -> None:
        with contextlib.suppress(OSError):
            os.remove(key)

    def object_size(self, key: str) -> int:
        return os.path.getsize(key)

    def list_names(self, prefix: str) -> list[str]:
        try:
            return os.listdir(prefix)
        except (FileNotFoundError, NotADirectoryError):
            return []

    def dir_exists(self, prefix: str) -> bool:
        return os.path.isdir(prefix)

    def ensure_dir(self, prefix: str) -> None:
        os.makedirs(prefix, exist_ok=True)

    def delete_tree_quiet(self, prefix: str) -> None:
        shutil.rmtree(prefix, ignore_errors=True)

    def move_object(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    @contextlib.contextmanager
    def writer_lease(self, table_path: str) -> Iterator[None]:
        """Acquisition is ``os.link`` of a pre-written pid file onto
        the lock name — atomic creation WITH content, so no observer
        can ever read a half-created (empty) lock and mistake a live
        writer for dead.  Stale-lock reclaim (dead pid) races are
        settled by ``os.rename`` of the stale lock to a per-contender
        name: exactly one contender wins the rename; losers fail their
        (re)link and raise ``ConcurrentWriteError`` instead of deleting
        the winner's fresh lock."""
        lock = local_lock_path(table_path)
        tmp = f"{lock}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            f.write(str(os.getpid()))

        def _claim() -> bool:
            try:
                os.link(tmp, lock)
                return True
            except FileExistsError:
                return False

        try:
            if not _claim():
                pid = 0
                with contextlib.suppress(OSError, ValueError):
                    with open(lock) as f:
                        pid = int(f.read().strip() or "0")
                if _pid_alive(pid):
                    raise ConcurrentWriteError(
                        f"keyed table {table_path} is being written by live "
                        f"pid {pid} (lock {lock}); keyed tables are "
                        f"single-writer"
                    ) from None
                # stale lock from a dead writer: atomic reclaim — only
                # one contender's rename succeeds
                stale = f"{lock}.stale.{os.getpid()}"
                with contextlib.suppress(FileNotFoundError):
                    os.rename(lock, stale)
                    os.remove(stale)
                if not _claim():
                    raise ConcurrentWriteError(
                        f"keyed table {table_path}: lost the stale-lock "
                        f"reclaim race to another writer (lock {lock})"
                    ) from None
            try:
                yield
            finally:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(lock)
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)


    def plane_spec(self) -> dict | None:
        return {"kind": "localfs"}


def plane_from_spec(spec: dict) -> ControlPlane:
    """Rebuild a control plane from a ``plane_spec`` in THIS process —
    the worker-side half of the cross-process seam (the changefeed
    streaming source's planning worker calls this with the spec it
    received via reader options)."""
    kind = spec.get("kind")
    if kind == "localfs":
        return LocalFSControlPlane()
    if kind == "objectstore":
        from cascading_hbase_spark.keyed.objectstore import (
            FileBackedObjectStore,
            ObjectStoreControlPlane,
        )

        return ObjectStoreControlPlane(FileBackedObjectStore(spec["root"]))
    raise ValueError(f"unknown control-plane spec kind: {kind!r}")


_CONTROL_PLANE: ControlPlane = LocalFSControlPlane()


def get_control_plane() -> ControlPlane:
    """The control plane every keyed-engine operation routes through."""
    return _CONTROL_PLANE


def set_control_plane(cp: ControlPlane) -> ControlPlane:
    """Install a control-plane implementation (returns the previous
    one).  Driver-side, process-global: swap BEFORE any keyed operation
    of the session; the engine does not support mixing planes across
    tables in one process."""
    global _CONTROL_PLANE
    prev, _CONTROL_PLANE = _CONTROL_PLANE, cp
    return prev


@contextlib.contextmanager
def use_control_plane(cp: ControlPlane) -> Iterator[ControlPlane]:
    """Scoped ``set_control_plane`` (tests, short-lived ports)."""
    prev = set_control_plane(cp)
    try:
        yield cp
    finally:
        set_control_plane(prev)
