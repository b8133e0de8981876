"""Pluggable commit guards: mutual exclusion for the check→flip
snapshot-publish window.

The format has no commit log (the reference assumes single-writer,
crates/azof/src/table.rs:35-41); multi-writer safety here comes from
optimistic concurrency (re-check the version pointer, retry on
conflict) hardened by a per-table guard around the publish window:

- **local / file:// tables** — :class:`FileLockGuard`: O_EXCL creation
  of ``version.txt.lock`` makes check-then-flip a real CAS. The lock
  file records the holder's token; a lock older than ``stale_after`` is
  presumed abandoned by a crashed writer and broken (token-verified, so
  a breaker can never remove a lock that changed hands in between), and
  a surviving holder whose lock WAS broken detects it via
  :meth:`HeldGuard.verify` immediately before the pointer flip — the
  flip is the commit point, so a verify failure turns the would-be lost
  update into a clean ``CommitConflictError`` retry.
- **emulated object-store schemes** (``$BAZOF_FS_EMULATE``) — the same
  file lock taken on the URI's local mirror: a stand-in for the
  conditional-put (If-None-Match PUT / DynamoDB lock / GCS
  precondition) a real deployment wires in.
- **other object-store URIs** — :class:`UnguardedPublish` by default:
  publishes are last-write-wins across simultaneous writers (each
  snapshot file itself stays intact — data files are never shared
  between commits — and the non-simultaneous case is still caught by
  the pointer re-check). This is the documented residual gap, the same
  one Delta Lake closes with a LogStore; wiring a real service is a
  one-class drop-in via :func:`register_commit_guard`.

Every snapshot publisher in the repo — the writers (append_delta,
delete_keys, merge_apply, commit_delta_files,
create_table_version_from_files, the Data Source batch and stream
sinks) and the maintenance publishers (checkpoint/optimize, evolve,
restore) — runs the one commit transaction ``writer._commit``, whose
``writer._publish_snapshot`` acquires the guard from :func:`guard_for`
— so a registered guard covers ALL commit paths (pinned by
tests/test_commitguard.py::test_publish_snapshot_has_one_caller).
"""

from __future__ import annotations

import contextlib
import os
import time
import uuid
from typing import Callable

from bazof_spark.errors import CommitConflictError

#: seconds after which a held lock is presumed abandoned by a crashed
#: writer. Publishes do milliseconds of work under the lock; 60 s of
#: stillness means a dead process far more often than a stalled one —
#: and the stalled-holder case is now SAFE, not just unlikely: a
#: survivor whose lock was broken fails verify() before its flip.
STALE_AFTER_S = 60.0


class HeldGuard:
    """A held guard. ``verify()`` raises CommitConflictError if the
    guard was lost since acquisition (e.g. broken as stale); call it
    immediately before the version-pointer flip. ``release()`` is
    idempotent."""

    def verify(self) -> None:  # pragma: no cover - trivial default
        return

    def release(self) -> None:  # pragma: no cover - trivial default
        return


class CommitGuard:
    """Factory protocol: ``acquire()`` returns a :class:`HeldGuard` or
    raises CommitConflictError when another writer holds the guard."""

    def acquire(self) -> HeldGuard:  # pragma: no cover - interface
        raise NotImplementedError


class UnguardedPublish(CommitGuard):
    """No mutual exclusion (object-store default): simultaneous
    publishes are last-write-wins on the version pointer. Documented
    residual; see module docstring."""

    def acquire(self) -> HeldGuard:
        return HeldGuard()


class _HeldFileLock(HeldGuard):
    def __init__(self, lock_path: str, token: str):
        self._lock = lock_path
        self._token = token

    def verify(self) -> None:
        """The holder's half of safe stale-breaking: if the lock file
        no longer carries OUR token, a breaker decided we were dead and
        another writer may have published — abort (the caller's retry
        loop re-reads and re-derives). Called before the pointer flip,
        so a stalled-then-resumed writer can never silently overwrite
        the commit that happened while it slept."""
        try:
            with open(self._lock, "r", encoding="utf-8") as f:
                current = f.read()
        except OSError:
            current = None
        if current != self._token:
            raise CommitConflictError(
                f"commit lock {self._lock} was broken as stale while this "
                "publish ran (holder token changed); re-read and retry"
            )

    def release(self) -> None:
        # only remove OUR lock: after a stale-break the path may hold a
        # successor's lock, which must survive this release
        try:
            with open(self._lock, "r", encoding="utf-8") as f:
                if f.read() != self._token:
                    return
        except OSError:
            return
        with contextlib.suppress(OSError):
            os.unlink(self._lock)


class FileLockGuard(CommitGuard):
    """O_EXCL lock file in a local directory — the CAS for local tables
    and for emulated object-store schemes (taken on the URI's mirror)."""

    def __init__(self, lock_path: str, stale_after: float = STALE_AFTER_S):
        self._lock = lock_path
        self._stale_after = stale_after

    def acquire(self) -> HeldGuard:
        token = f"{uuid.uuid4().hex} pid={os.getpid()}"
        os.makedirs(os.path.dirname(self._lock) or ".", exist_ok=True)
        try:
            fd = os.open(self._lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            self._maybe_break_stale()
            raise CommitConflictError(
                f"commit lock held by a concurrent writer ({self._lock}); "
                "re-read the table and retry"
            ) from None
        try:
            os.write(fd, token.encode("utf-8"))
        finally:
            os.close(fd)
        return _HeldFileLock(self._lock, token)

    def _read_lock(self) -> tuple[str, float] | None:
        """(holder token, mtime) or None when the lock vanished."""
        try:
            mtime = os.path.getmtime(self._lock)
            with open(self._lock, "r", encoding="utf-8") as f:
                return f.read(), mtime
        except OSError:
            return None

    def _maybe_break_stale(self) -> None:
        """Remove the lock iff it was abandoned by a crashed writer.

        Two safeguards beyond the age check:

        - breakers are SERIALIZED through an O_EXCL ``<lock>.break``
          file and re-read the lock INSIDE that critical section —
          without it, two breakers observing the same stale lock could
          both unlink by path, the second deleting a FRESH lock
          acquired in between;
        - the holder TOKEN must be unchanged across the stale window
          (not just the age): unlink-by-identity, never by path alone,
          so the breaker can never remove a lock that changed hands.

        The stalled-but-alive holder this can still misjudge (GC pause,
        NFS hang >60 s) is handled on the holder's side:
        HeldGuard.verify() before the flip detects the broken lock and
        aborts instead of overwriting the successor's publish."""
        observed = self._read_lock()
        if observed is None:
            return  # holder released meanwhile
        token, mtime = observed
        if time.time() - mtime <= self._stale_after:
            return
        breaker = self._lock + ".break"
        try:
            os.close(os.open(breaker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            with contextlib.suppress(OSError):
                if time.time() - os.path.getmtime(breaker) > self._stale_after:
                    os.unlink(breaker)  # crashed breaker; next caller retries
            return
        try:
            # re-read INSIDE the break section: only the SAME stale lock
            # (identical holder token, still old) is removed
            current = self._read_lock()
            if (
                current is not None
                and current[0] == token
                and time.time() - current[1] > self._stale_after
            ):
                with contextlib.suppress(OSError):
                    os.unlink(self._lock)
        finally:
            with contextlib.suppress(OSError):
                os.unlink(breaker)


_REGISTRY: dict[str, Callable[[str], CommitGuard]] = {}


def register_commit_guard(
    scheme: str, factory: Callable[[str], CommitGuard] | None
) -> None:
    """Install ``factory(table_uri) -> CommitGuard`` for a URI scheme
    (e.g. a DynamoDB/conditional-put guard for ``s3``). ``None``
    uninstalls. Covers every commit path — writer and maintenance
    publishes all resolve through :func:`guard_for`."""
    key = scheme.lower()
    if factory is None:
        _REGISTRY.pop(key, None)
    else:
        _REGISTRY[key] = factory


def guard_for(table_path: str) -> CommitGuard:
    """Resolve the commit guard for a table path. Precedence: explicit
    registration > local file lock > emulated-scheme mirror lock >
    unguarded (documented last-write-wins)."""
    from bazof_spark import iofs
    from bazof_spark.table import VERSION_FILE

    if "://" in table_path:
        scheme = table_path.split("://", 1)[0].lower()
        if scheme in _REGISTRY:
            return _REGISTRY[scheme](table_path)
        if scheme == "file":
            local = table_path[len("file://"):]
            return FileLockGuard(os.path.join(local, VERSION_FILE + ".lock"))
        try:
            mirror = iofs.emulated_mirror(table_path)
        except ValueError:
            return UnguardedPublish()
        # emulated conditional-put: the mirror directory exists iff the
        # table does (created by the writer before any publish)
        return FileLockGuard(os.path.join(mirror, VERSION_FILE + ".lock"))
    return FileLockGuard(os.path.join(table_path, VERSION_FILE + ".lock"))
