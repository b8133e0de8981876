"""Commit-guard seam: token-verified file locks, safe stale-breaking,
the holder-side verify() that turns a broken-lock survivor into a clean
conflict, and the scheme registry for real conditional-put services.

The lost-update scenario this closes (previously a documented residual):
writer A passes the pointer check, stalls >stale-window (GC pause, NFS
hang); writer B breaks A's lock, publishes s{N}; A resumes and would
flip the pointer over B's commit. Now A's verify() before the flip sees
the lock no longer carries its token and raises CommitConflictError —
the retry loop re-reads and re-derives instead of losing B's commit.
"""

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.commitguard import (  # noqa: E402
    CommitGuard,
    FileLockGuard,
    HeldGuard,
    UnguardedPublish,
    guard_for,
    register_commit_guard,
)
from bazof_spark.errors import CommitConflictError  # noqa: E402


def _lock_path(tmp_path):
    return str(tmp_path / "version.txt.lock")


def _backdate(path, seconds=3600):
    old = time.time() - seconds
    os.utime(path, (old, old))


def test_acquire_release_roundtrip(tmp_path):
    g = FileLockGuard(_lock_path(tmp_path))
    held = g.acquire()
    assert os.path.exists(_lock_path(tmp_path))
    held.verify()  # our own fresh lock verifies
    held.release()
    assert not os.path.exists(_lock_path(tmp_path))
    held.release()  # idempotent


def test_fresh_lock_conflicts_without_breaking(tmp_path):
    g = FileLockGuard(_lock_path(tmp_path))
    held = g.acquire()
    with pytest.raises(CommitConflictError, match="lock held"):
        FileLockGuard(_lock_path(tmp_path)).acquire()
    assert os.path.exists(_lock_path(tmp_path))  # not stolen
    held.verify()  # still ours
    held.release()


def test_stale_lock_broken_then_acquirable(tmp_path):
    g = FileLockGuard(_lock_path(tmp_path))
    g.acquire()  # abandoned (never released)
    _backdate(_lock_path(tmp_path))
    # first attempt breaks the stale lock and reports conflict …
    with pytest.raises(CommitConflictError):
        FileLockGuard(_lock_path(tmp_path)).acquire()
    # … the retry acquires cleanly
    held = FileLockGuard(_lock_path(tmp_path)).acquire()
    held.verify()
    held.release()


def test_broken_lock_survivor_fails_verify_and_release_is_harmless(tmp_path):
    """The advice-file scenario: the stalled holder's verify() must fail
    after a break, and its release() must NOT remove the successor's
    lock."""
    held_a = FileLockGuard(_lock_path(tmp_path)).acquire()
    _backdate(_lock_path(tmp_path))  # A "stalls" past the window
    with pytest.raises(CommitConflictError):
        FileLockGuard(_lock_path(tmp_path)).acquire()  # breaks A's lock
    held_b = FileLockGuard(_lock_path(tmp_path)).acquire()  # B publishes

    with pytest.raises(CommitConflictError, match="broken as stale"):
        held_a.verify()
    held_a.release()  # must not unlink B's lock
    assert os.path.exists(_lock_path(tmp_path))
    held_b.verify()  # B unaffected
    held_b.release()


def test_break_is_token_verified_not_path_verified(tmp_path):
    """A lock that CHANGED HANDS during the stale window must not be
    broken even if the new holder's file were somehow old too — the
    breaker compares the holder token across its critical section."""
    g = FileLockGuard(_lock_path(tmp_path))
    g.acquire()
    _backdate(_lock_path(tmp_path))
    # simulate a hand-off racing the breaker: observed stale, then a new
    # holder (different token) appears before the break section re-reads
    observed = g._read_lock()
    os.unlink(_lock_path(tmp_path))
    fresh = FileLockGuard(_lock_path(tmp_path)).acquire()
    _backdate(_lock_path(tmp_path))  # even with an old mtime …
    assert g._read_lock()[0] != observed[0]
    # … a breaker that observed the OLD token must leave it alone
    class _Frozen(FileLockGuard):
        def _read_lock(self_inner):
            # first read returns the stale observation, the in-section
            # re-read returns the truth
            if not hasattr(self_inner, "_called"):
                self_inner._called = True
                return observed
            return FileLockGuard._read_lock(self_inner)

    _Frozen(_lock_path(tmp_path))._maybe_break_stale()
    assert os.path.exists(_lock_path(tmp_path))
    fresh.verify()  # untouched
    fresh.release()


def test_registry_overrides_scheme(tmp_path):
    class _Recording(CommitGuard):
        acquired = 0

        def acquire(self):
            _Recording.acquired += 1
            return HeldGuard()

    try:
        register_commit_guard("mock", lambda uri: _Recording())
        g = guard_for("mock://bucket/table")
        g.acquire()
        assert _Recording.acquired == 1
    finally:
        register_commit_guard("mock", None)
    assert isinstance(guard_for("mock://bucket/table"), UnguardedPublish)


def test_guard_resolution(tmp_path, monkeypatch):
    monkeypatch.delenv("BAZOF_FS_EMULATE", raising=False)
    assert isinstance(guard_for(str(tmp_path)), FileLockGuard)
    assert isinstance(guard_for(f"file://{tmp_path}"), FileLockGuard)
    assert isinstance(guard_for("s3://bucket/t"), UnguardedPublish)
    # emulated scheme → conditional-put stand-in on the local mirror
    monkeypatch.setenv("BAZOF_FS_EMULATE", "s3")
    monkeypatch.setenv("BAZOF_FS_EMULATE_ROOT", str(tmp_path))
    assert isinstance(guard_for("s3://bucket/t"), FileLockGuard)


def test_publish_verifies_guard_before_flip(spark, tmp_path, monkeypatch):
    """_publish_snapshot calls HeldGuard.verify() before the pointer
    flip: a guard lost mid-publish surfaces as CommitConflictError and
    the retry loop recovers (no partial state beyond an unreferenced
    snapshot file)."""
    import datetime as dt

    from pyspark.sql import Row

    from bazof_spark import commitguard
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter, upsert_with_retry

    table_path = str(tmp_path / "t")
    w = TableWriter(
        spark,
        table_path,
        TableSchema(
            columns=(
                ColumnDef(name="value", data_type=ColumnType.STRING, nullable=False),
            )
        ),
    )
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    w.add_segment(
        "s1",
        start=t0,
        base_df=spark.createDataFrame([Row(key="a", event_time=t0, value="a1")]),
    )
    w.commit("1")

    calls = {"verify": 0}
    real_guard_for = commitguard.guard_for

    class _LoseOnce(HeldGuard):
        def __init__(self, inner):
            self._inner = inner

        def verify(self):
            calls["verify"] += 1
            if calls["verify"] == 1:
                raise CommitConflictError("guard lost (simulated stale break)")
            self._inner.verify()

        def release(self):
            self._inner.release()

    class _Wrap(CommitGuard):
        def __init__(self, inner):
            self._inner = inner

        def acquire(self):
            return _LoseOnce(self._inner.acquire())

    monkeypatch.setattr(
        commitguard, "guard_for", lambda p: _Wrap(real_guard_for(p))
    )
    t1 = dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc)
    upsert_with_retry(
        spark,
        table_path,
        spark.createDataFrame([Row(key="a", event_time=t1, value="a2")]),
        retries=3,
    )
    assert calls["verify"] >= 2  # first publish aborted AT the flip
    from bazof_spark import Lakehouse

    lh = Lakehouse(spark, str(tmp_path))
    got = {r["key"]: r["value"] for r in lh.scan("t").collect()}
    assert got == {"a": "a2"}


def test_staged_publish_protects_successor_snapshot(spark, tmp_path, monkeypatch):
    """The lost-update residue the staging closes: a publisher that
    passed the pointer check but lost its guard while serializing
    (stale break + successor publishing the SAME next_version) must
    abort WITHOUT touching the successor's s{N}.json — previously the
    pre-verify write landed on the final name, so the pointer could end
    up referencing the aborted writer's snapshot content. Also checks
    the staged temp file is cleaned up on the abort path."""
    import datetime as dt

    from pyspark.sql import Row

    from bazof_spark import commitguard
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.table import Table
    from bazof_spark.writer import TableWriter, _publish_snapshot

    table_path = str(tmp_path / "t")
    w = TableWriter(
        spark,
        table_path,
        TableSchema(
            columns=(
                ColumnDef(name="value", data_type=ColumnType.STRING, nullable=False),
            )
        ),
    )
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    w.add_segment(
        "s1",
        start=t0,
        base_df=spark.createDataFrame([Row(key="a", event_time=t0, value="a1")]),
    )
    w.commit("1")
    snap = Table(path=table_path, name="t").get_current_snapshot()

    # the successor's just-published s2.json (its pointer flip races ours)
    sentinel = '{"successor": true}'
    with open(os.path.join(table_path, "s2.json"), "w", encoding="utf-8") as f:
        f.write(sentinel)

    class _Lost(HeldGuard):
        def verify(self):
            raise CommitConflictError("guard lost (simulated stale break)")

    class _LostGuard(CommitGuard):
        def acquire(self):
            return _Lost()

    monkeypatch.setattr(commitguard, "guard_for", lambda p: _LostGuard())
    with pytest.raises(CommitConflictError, match="guard lost"):
        _publish_snapshot(table_path, "1", "2", snap)

    # successor's snapshot untouched, pointer untouched, no staged debris
    with open(os.path.join(table_path, "s2.json"), encoding="utf-8") as f:
        assert f.read() == sentinel
    with open(os.path.join(table_path, "version.txt"), encoding="utf-8") as f:
        assert f.read().strip() == "1"
    assert not [n for n in os.listdir(table_path) if ".stage-" in n]


def test_staged_publish_success_leaves_no_stage_debris(spark, tmp_path):
    """Happy path through the staged write: final snapshot + flipped
    pointer, and the attempt-unique staging name is gone (renamed)."""
    import datetime as dt

    from pyspark.sql import Row

    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.table import Table
    from bazof_spark.writer import TableWriter, _publish_snapshot

    table_path = str(tmp_path / "t")
    w = TableWriter(
        spark,
        table_path,
        TableSchema(
            columns=(
                ColumnDef(name="value", data_type=ColumnType.STRING, nullable=False),
            )
        ),
    )
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    w.add_segment(
        "s1",
        start=t0,
        base_df=spark.createDataFrame([Row(key="a", event_time=t0, value="a1")]),
    )
    w.commit("1")
    table = Table(path=table_path, name="t")
    snap = table.get_current_snapshot()
    _publish_snapshot(table_path, "1", "2", snap)
    assert table.current_version() == "2"
    assert os.path.exists(os.path.join(table_path, "s2.json"))
    assert not [n for n in os.listdir(table_path) if ".stage-" in n]


def test_publish_snapshot_has_one_caller():
    """Every snapshot publisher goes through ONE commit transaction
    (writer._commit), so a change to the commit path — a conditional-put
    CAS, a commit log, per-commit fields — has exactly one site to
    touch. Walks the package source: ``_publish_snapshot`` may be
    called only from ``_commit``."""
    import ast

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bazof_spark",
    )
    callers = []
    for dirpath, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                for node in ast.walk(fn):
                    if isinstance(node, ast.Call) and (
                        getattr(node.func, "id", None) == "_publish_snapshot"
                        or getattr(node.func, "attr", None) == "_publish_snapshot"
                    ):
                        callers.append(
                            (os.path.relpath(path, pkg), fn.name, node.lineno)
                        )
    # a call nested in an inner function is attributed to both; keep
    # the innermost (the last-visited function holding that line)
    innermost = {(p, ln): fn for p, fn, ln in callers}
    assert sorted((p, fn) for (p, _), fn in innermost.items()) == [
        ("writer.py", "_commit")
    ]
