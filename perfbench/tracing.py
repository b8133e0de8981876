"""Spans, layer probes and Spark/S3 counters for the traced run.

Spans are kept in memory — ``(name, start, end, parent, op)`` plus
attributes — and written out once at exit. A span is opened either by
the benchmark around a call it makes itself (``Lakehouse.scan``,
``append_delta``, the action) or by a probe: while tracing is on, a
handful of the library's public functions are wrapped in this process
(``Table.current_version``/``get_snapshot``, ``Snapshot.get_data_files``,
the SQL rewrite, py4j's ``send_command``) so calls the library makes
internally are timed at the module boundary. Nothing in the library is
modified; ``Probes.uninstall`` restores every wrapped attribute.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``enabled`` is toggled per operation, so
    one traced run interleaves traced and untraced operations."""

    def __init__(self, trace_run: bool = False) -> None:
        self.trace_run = trace_run
        self.enabled = False
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.py4j_calls = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(
            name, time.perf_counter(),
            parent=self.stack[-1] if self.stack else None,
            op=self.op, attrs=dict(attrs),
        )
        s.attrs["py4j0"] = self.py4j_calls
        self.spans.append(s)
        self.stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.attrs["py4j"] = self.py4j_calls - s.attrs.pop("py4j0")
            self.stack.pop()

    def self_times(self) -> list[float]:
        """Per-span duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s, self_s in zip(self.spans, self.self_times()):
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "self_s": self_s, "parent": s.parent, "op": s.op,
                    **s.attrs,
                }) + "\n")


class Probes:
    """Wraps library entry points so internal calls open spans."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []
        self._files_total: dict[int, int] = {}

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
            if s is not None and after is not None:
                after(s, args, out)
            return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        import bazof_spark.lakehouse
        from bazof_spark.metadata import Snapshot
        from bazof_spark.table import Table

        tracer = self.tracer
        for conn in (
            py4j.clientserver.ClientServerConnection,
            py4j.java_gateway.GatewayConnection,
        ):
            orig = conn.send_command

            def counted(self_, command, *a, _orig=orig, **kw):
                tracer.py4j_calls += 1
                return _orig(self_, command, *a, **kw)

            self._saved.append((conn, "send_command", orig))
            conn.send_command = counted

        self._wrap(Table, "current_version", "table.resolve")
        self._wrap(
            Table, "get_snapshot", "table.resolve", after=self._snapshot_bytes
        )
        self._wrap(
            Snapshot, "get_data_files", "metadata.prune", after=self._prune_counts
        )
        self._wrap(
            bazof_spark.lakehouse, "rewrite_and_extract_tables", "sql.rewrite",
            after=lambda s, args, out: s.attrs.update(views=len(out[1])),
        )

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    @staticmethod
    def _snapshot_bytes(span: Span, args, out) -> None:
        from bazof_spark import iofs

        table, version = args[0], args[1]
        fs, rel = iofs.split(iofs.join(table.path, f"s{version}.json"))
        span.attrs["bytes"] = fs.get_file_info(rel).size

    def _prune_counts(self, span: Span, args, out) -> None:
        snap = args[0]
        total = self._files_total.get(id(snap))
        if total is None:
            total = self._files_total[id(snap)] = len(snap.file_key_stats())
        span.attrs.update(total=total, kept=len(out))


# -- Spark execution counters --------------------------------------------


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def exec_counters(spark, group: str, timeout_s: float = 5.0) -> dict:
    """Jobs, stages, tasks and stage-level task metrics of every job run
    under ``group``, read from the app status store once the listener
    bus has recorded them as finished."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + timeout_s
    while True:
        job_ids = tracker.getJobIdsForGroup(group)
        jobs = [tracker.getJobInfo(j) for j in job_ids]
        if all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs):
            stages = sorted({s for j in jobs for s in j.stageIds})
            data = []
            for sid in stages:
                try:
                    data.append(store.lastStageAttempt(sid))
                except Exception:  # stage planned but skipped: never ran
                    continue
            if all(str(d.status()) != "ACTIVE" for d in data) or (
                time.monotonic() > deadline
            ):
                break
        elif time.monotonic() > deadline:
            data, stages = [], []
            break
        time.sleep(0.01)
    ran = [d for d in data if str(d.status()) == "COMPLETE"]
    return {
        "jobs": len(job_ids),
        "stages": len(ran),
        "tasks": sum(d.numTasks() for d in ran),
        "first_stage_tasks": ran[0].numTasks() if ran else 0,
        "input_bytes": sum(d.inputBytes() for d in ran),
        "input_records": sum(d.inputRecords() for d in ran),
        "shuffle_write_bytes": sum(d.shuffleWriteBytes() for d in ran),
        "spill_bytes": sum(d.memoryBytesSpilled() + d.diskBytesSpilled() for d in ran),
    }


# -- object-store census -------------------------------------------------


def s3_census(server, since: int) -> dict:
    """GETs the in-process S3 server served after log position ``since``."""
    store = server.store
    with store.lock:
        entries = list(store.get_log[since:])
        sizes = {}
        for path, _ in entries:
            bucket, _, key = path.partition("/")
            obj = store.buckets.get(bucket, {}).get(key)
            sizes[path] = len(obj[0]) if obj else 0
    total = 0
    for path, rng in entries:
        size = sizes[path]
        lo, _, hi = (rng or "bytes=0-").strip().removeprefix("bytes=").partition("-")
        if not lo:  # suffix range: the last ``hi`` bytes
            total += min(int(hi or 0), size)
        else:
            end = min(int(hi), size - 1) if hi else size - 1
            total += max(0, end - int(lo) + 1)
    meta = sum(
        1 for p, _ in entries if p.endswith(".json") or p.endswith("version.txt")
    )
    return {"gets": len(entries), "meta_gets": meta, "get_bytes": total}


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
