"""Table builds, operation streams and the closed-loop driver.

One client, one driver thread: the next operation starts only after the
previous one returned and its result was checked against the oracle.
Only the library call and the Spark action sit inside the timed span;
input generation, the oracle check and the state-hygiene probe do not.
"""

from __future__ import annotations

import io
import itertools
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen, tracing
from perfbench.datagen import Shape
from perfbench.oracle import FINGERPRINT, Oracle, asof_sql, normalize_rows

TABLE = "events"

SHAPES = {
    # one segment of a few large files: the merge shuffle dominates
    "scan": {
        "full": Shape(n_keys=52_000, segments=(2,), wave_keys=17_000,
                      state_files=3, wave_files=1, committed=1),
        "tiny": Shape(n_keys=3_000, segments=(2,), wave_keys=600,
                      state_files=2, wave_files=1, committed=1, hot_keys=50),
    },
    # a small table that grows by one upsert commit per cycle
    "ingest": {
        "full": Shape(n_keys=40_000, segments=(0,), wave_keys=8_000,
                      state_files=4, wave_files=1, committed=0),
        "tiny": Shape(n_keys=2_000, segments=(0,), wave_keys=300,
                      state_files=2, wave_files=1, committed=0, hot_keys=50),
    },
}


#: workload → table shape
WORKLOADS = {"scan_asof": "scan", "ingest_mixed": "ingest"}

#: workloads that also serve each build from the in-process S3 server
#: and run their keyed lookups there
S3_WORKLOADS = ("scan_asof",)

#: kinds of the keyed as-of lookups ``lookup_p50_s`` times: over
#: ``s3://`` on scan_asof, the local read-backs on ingest_mixed
LOOKUP_KINDS = ("lookup", "readback")

#: the timed loop runs at least this many rounds; storage amplification
#: is measured after the last of them
AMPLIFICATION_ROUND = 2

#: the timed loop stops after the round in progress once any operation
#: failed (a failing operation adds no time, so the loop would never
#: end), or once its minimum rounds ran and wall time passed this
#: multiple of ``--seconds``
WALL_LIMIT_FACTOR = 4

#: ingest_mixed runs checkpoint + vacuum after every Nth upsert commit;
#: a round is N cycles, so the warm-up round and every timed round end
#: with one
CHECKPOINT_EVERY = 3


def schema():
    from bazof_spark import ColumnDef, ColumnType, TableSchema

    return TableSchema((
        ColumnDef("v", ColumnType.INT, nullable=False),
        ColumnDef("cat", ColumnType.STRING, nullable=False),
        ColumnDef("qty", ColumnType.INT, nullable=False),
    ))


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    rows: int = 0  # rows a correct read returns (0 for writes)
    remote: bool = False  # reads over ``s3://``


@dataclass
class Record:
    kind: str
    seconds: float
    ok: bool
    traced: bool
    counters: dict = field(default_factory=dict)


class Bench:
    def __init__(self, spark, workload: str, seed: int, scale: str,
                 workdir: str, tracer: tracing.Tracer, s3=None) -> None:
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.shape_name = WORKLOADS[workload]
        self.remote = s3 is not None
        self.shape: Shape = SHAPES[self.shape_name][scale]
        self.workdir = workdir
        self.tracer = tracer
        self.probes = tracing.Probes(tracer)
        self.s3 = s3
        self.oracle = Oracle()
        self.rng = np.random.default_rng([seed, 1])
        self.records: list[Record] = []
        self.n_ops = 0
        self._kind_count: dict[str, int] = {}
        self.hygiene_failures = 0
        self.warm_failures = 0
        self.log: datagen.Log | None = None
        self.lh = None
        self.remote_lh = None
        self.amplification = 0.0

    # -- set-up ----------------------------------------------------------

    def _root(self, build: int) -> str:
        return os.path.join(self.workdir, "tables", f"b{build}")

    def _upload(self, build: int) -> str:
        """Copy a built table into the object store: its files are placed
        in the in-process server's bucket directly, so set-up pays no
        HTTP round trips; every read of the copy goes over HTTP."""
        local = os.path.join(self._root(build), TABLE)
        bucket = self.s3.store.buckets.setdefault("bench", {})
        with self.s3.store.lock:
            for name in sorted(os.listdir(local)):
                with open(os.path.join(local, name), "rb") as f:
                    bucket[f"b{build}/{TABLE}/{name}"] = (f.read(), time.time())
        return f"s3://bench/b{build}"

    def _frame(self, table, name: str):
        """Spark DataFrame over one generated batch, staged as parquet."""
        path = os.path.join(self.workdir, "log", f"{name}.parquet")
        pq.write_table(table, path)
        return self.spark.read.parquet(path)

    def build(self, build: int) -> None:
        """Generate the upsert log and build the table from it with the
        library's writer: ``TableWriter`` authors the time segments (each
        later segment opens with the full key state at its start, like a
        checkpoint base), the last waves land as ``append_delta`` commits,
        then one vacuum. With an S3 server, the built table is then copied
        into its bucket."""
        from bazof_spark import Lakehouse, TableWriter, append_delta, vacuum_table

        shutil.rmtree(os.path.join(self.workdir, "log"), ignore_errors=True)
        os.makedirs(os.path.join(self.workdir, "log"))
        shape = self.shape
        log = datagen.new_log(shape, self.seed)
        lh = Lakehouse(self.spark, self._root(build))
        path = lh.table(TABLE).path
        n_waves = len(log.waves)
        authored = n_waves - shape.committed
        segments = datagen.segment_waves(shape)
        tr = self.tracer
        with tr.span("writer.author"):
            w = TableWriter(self.spark, path, schema())
            for j, (first, last) in enumerate(segments):
                start = datagen.T0 if j == 0 else log.waves[first - 1].ts
                end = None if j == len(segments) - 1 else log.waves[last].ts
                if end is None:
                    seg = w.add_segment(f"seg{j}", start=start)
                else:
                    # top-level segments are always visited; a closed one
                    # is range-checked only as a child (the layout
                    # checkpoint_table produces)
                    seg = w.add_segment(
                        f"seg{j}_archived", start=start, end=end
                    ).add_child(f"seg{j}", start=start, end=end)
                state = log.waves[0].table if j == 0 else log.state(first - 1)
                seg.add_delta_distributed(
                    self._frame(state, f"state{j}"), start=start, end=start,
                    num_files=shape.state_files, validate=False,
                )
                for i in range(max(first, 1), min(last, authored - 1) + 1):
                    wave = log.waves[i]
                    seg.add_delta_distributed(
                        self._frame(wave.table, f"w{i}"), start=wave.ts,
                        end=wave.ts, num_files=shape.wave_files, validate=False,
                    )
            w.commit("1")
        for i in range(authored, n_waves):
            wave = log.waves[i]
            df = self._frame(wave.table, f"w{i}")
            before = lh.table(TABLE).get_current_snapshot() if tr.enabled else None
            with tr.span("writer.append") as s:
                after = append_delta(
                    self.spark, path, df, start=wave.ts, end=wave.ts,
                    distributed=True, num_files=shape.wave_files, validate=False,
                )
            _note_written(s, before, after)
        with tr.span("maintenance.vacuum") as s:
            removed = vacuum_table(lh, TABLE, min_age_s=0)
        _note_removed(s, removed)
        if self.remote:
            self.remote_lh = Lakehouse(self.spark, self._upload(build))
        self.log, self.lh = log, lh

    def setup(self, repeats: int) -> list[float]:
        """Build the table ``repeats`` times from the same seed; later
        operations use the last build. Returns each build's seconds."""
        times = []
        for b in range(repeats):
            t0 = time.perf_counter()
            self.build(b)
            times.append(time.perf_counter() - t0)
        for b in range(repeats - 1):
            self._drop(b)
        self.oracle.load(self.log.table())
        return times

    def _drop(self, build: int) -> None:
        shutil.rmtree(self._root(build), ignore_errors=True)
        if self.remote:
            bucket = self.s3.store.buckets["bench"]
            with self.s3.store.lock:
                for key in [k for k in bucket if k.startswith(f"b{build}/")]:
                    del bucket[key]

    # -- operations ------------------------------------------------------

    def _lookup(self, kind: str, keys: list[str], t, lh=None) -> Op:
        tr, lh = self.tracer, lh or self.lh

        def run():
            with tr.span("lakehouse.build"):
                df = lh.scan(TABLE, as_of=t, keys=keys)
            with tr.span("exec.action"):
                return df.collect()

        want = self.oracle.lookup(keys, t)
        return Op(kind, run, lambda rows: normalize_rows(rows) == want, len(want),
                  remote=lh is self.remote_lh)

    def _sql(self, kind: str, stmt: str, oracle_sql: str) -> Op:
        tr = self.tracer

        def run():
            with tr.span("lakehouse.build"):
                df = self.lh.sql(stmt)
            with tr.span("exec.action"):
                return df.collect()

        want = self.oracle.rows(oracle_sql)
        return Op(kind, run, lambda rows: normalize_rows(rows) == want, len(want))

    def _scan(self, t) -> Op:
        """Full as-of scan. Its action is the row-set fingerprint: like
        the noop sink it reads every column of every row of the merge,
        and the check then needs no second execution."""
        tr = self.tracer

        def run():
            with tr.span("lakehouse.build"):
                df = self.lh.scan(TABLE, as_of=t)
            with tr.span("exec.action"):
                return df.selectExpr(*FINGERPRINT).first()

        want = self.oracle.fingerprint(t)
        return Op("scan", run, lambda got: tuple(got) == want, want[0])

    def s3_lookups(self) -> list[Op]:
        """Keyed as-of lookups over ``s3://``: one between the first two
        waves, one as of Current."""
        rng = self.rng
        instants = [datagen.instant_after(rng, self.log.waves[0]), None]
        return [
            self._lookup(
                "lookup", datagen.lookup_keys(rng, self.shape), t, self.remote_lh
            )
            for t in instants
        ]

    def sql_check_op(self) -> Op:
        """SQL twin of a lookup in ``AT(...)`` syntax: checks the build."""
        keys = datagen.lookup_keys(self.rng, self.shape)
        t = self.log.waves[-1].ts + timedelta(minutes=1)
        in_list = ", ".join(f"'{k}'" for k in keys)
        return self._sql(
            "sql_check",
            f"SELECT key, event_time, v, cat, qty FROM {TABLE} "
            f"AT('{_rfc(t)}') WHERE key IN ({in_list})",
            f"SELECT key, event_time, v, cat, qty FROM {asof_sql(t)} "
            f"WHERE key IN ({in_list})",
        )

    def scan_rotation(self) -> list[Op]:
        """Full as-of scan, then the three SQL shapes: a group-by
        aggregate, a two-instant as-of self-join, and the reference's
        filter + ORDER BY … LIMIT demo query; then, with an S3 server,
        the keyed lookups of ``s3_lookups``. The instants fall after the
        last wave (the self-join's other side after the first), so every
        rotation reads the same files and only the values differ."""
        log, rng = self.log, self.rng
        t_scan, t_agg, t_a, t_topk = (
            datagen.instant_after(rng, log.waves[-1]) for _ in range(4)
        )
        t_b = log.waves[0].ts + timedelta(minutes=30)
        cats = sorted({f"c{int(c):02d}" for c in rng.integers(0, datagen.N_CATS, 3)})
        cat_list = ", ".join(f"'{c}'" for c in cats)
        return [
            self._scan(t_scan),
            self._sql(
                "sql_agg",
                f"SELECT cat, count(*) AS n, sum(qty) AS q, max(v) AS mv "
                f"FROM {TABLE} AT('{_rfc(t_agg)}') GROUP BY cat",
                f"SELECT cat, count(*), sum(qty), max(v) FROM {asof_sql(t_agg)} "
                "GROUP BY cat",
            ),
            self._sql(
                "sql_join",
                f"SELECT count(*) AS changed, sum(b.qty - a.qty) AS dq "
                f"FROM {TABLE} AT('{_rfc(t_b)}') a "
                f"JOIN {TABLE} FOR SYSTEM_TIME AS OF '{_rfc(t_a)}' b "
                "ON a.key = b.key WHERE a.v <> b.v",
                f"SELECT count(*), sum(b.qty - a.qty) FROM {asof_sql(t_b)} a "
                f"JOIN {asof_sql(t_a)} b ON a.key = b.key WHERE a.v <> b.v",
            ),
            self._sql(
                "sql_topk",
                f"SELECT key, v, qty FROM {TABLE} AT('{_rfc(t_topk)}') "
                f"WHERE cat IN ({cat_list}) ORDER BY v DESC, key LIMIT 10",
                f"SELECT key, v, qty FROM {asof_sql(t_topk)} "
                f"WHERE cat IN ({cat_list}) ORDER BY v DESC, key LIMIT 10",
            ),
        ] + (self.s3_lookups() if self.remote else [])

    def ingest_cycle(self, commit: int) -> list[Op]:
        """One upsert commit, a read-back of keys it wrote as of Current,
        and on every Nth commit a checkpoint + vacuum."""
        from bazof_spark import append_delta, checkpoint_table, vacuum_table

        tr, log = self.tracer, self.log
        wave = log.append(self.shape.wave_keys)
        df = self._frame(wave.table, f"w{wave.index}")
        table = self.lh.table(TABLE)
        before = int(table.current_version())
        snap = table.get_snapshot(str(before))

        def upsert():
            with tr.span("writer.append") as s:
                after = append_delta(self.spark, table.path, df)
            _note_written(s, snap, after)

        self.oracle.load(log.table())
        ops = [Op(
            "upsert", upsert,
            lambda _: int(table.current_version()) == before + 1,
        )]
        sample = sorted(
            datagen.key_name(k)
            for k in self.rng.choice(wave.keys, datagen.LOOKUP_KEYS, replace=False)
        )
        ops.append(self._lookup("readback", sample, None))
        if commit % CHECKPOINT_EVERY == 0:
            def maintain():
                with tr.span("maintenance.checkpoint") as s:
                    snap = checkpoint_table(self.lh, TABLE, at=wave.ts)
                if s is not None:
                    s.attrs["bytes"] = snap.segments[-1].size or 0
                with tr.span("maintenance.vacuum") as s:
                    removed = vacuum_table(self.lh, TABLE, min_age_s=0)
                _note_removed(s, removed)
                return snap

            ops.append(Op(
                "checkpoint", maintain,
                lambda snap: snap.segments[-1].file is not None,
            ))
            ops.append(self._lookup("readback", sample, None))
        return ops

    # -- the closed loop -------------------------------------------------

    def execute(self, op: Op, record: bool, traced: bool | None = None) -> float:
        """Run one operation, check it, probe state hygiene. Unrecorded
        operations trace (when asked to) as set-up calls."""
        tr = self.tracer
        if traced is None:
            # a traced run traces every other operation of each kind, so
            # the untraced half measures the tracing overhead
            seen = self._kind_count.get(op.kind, 0)
            self._kind_count[op.kind] = seen + 1
            traced = tr.trace_run and record and seen % 2 == 1
        self.n_ops += 1
        group = f"perfbench-{self.n_ops}"
        s3_mark = len(self.s3.store.get_log) if op.remote else 0
        if traced:
            self.spark.sparkContext.setJobGroup(group, op.kind)
            tr.op = self.n_ops if record else None
            tr.enabled = True
            self.probes.install()
        ok, result, seconds = False, None, 0.0
        try:
            with tr.span("op", kind=op.kind):
                t0 = time.perf_counter()
                result = op.run()
                seconds = time.perf_counter() - t0
        except Exception:
            traceback.print_exc(file=sys.stderr)
        finally:
            if traced:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.probes.uninstall()
                tr.enabled = False
        try:
            ok = seconds > 0 and bool(op.check(result))
        except Exception:
            traceback.print_exc(file=sys.stderr)
        if not ok:
            print(f"perfbench: {op.kind} op {self.n_ops} FAILED", file=sys.stderr)
        left = tracing.persistent_rdds(self.spark)
        if left:
            self.hygiene_failures += 1
            ok = False
            print(
                f"perfbench: {op.kind} op {self.n_ops} left {left} persistent "
                "RDD(s) behind", file=sys.stderr,
            )
        counters = {"persistent_rdds_left": left, "rows_out": op.rows}
        if traced:
            counters.update(tracing.exec_counters(self.spark, group))
            if op.remote:
                counters.update(tracing.s3_census(self.s3, s3_mark))
        if record:
            self.records.append(Record(op.kind, seconds, ok, traced, counters))
        elif not ok:
            self.warm_failures += 1
        return seconds

    def rounds(self):
        """Endless stream of rounds. A round is a callable making the
        operations whose summed latency is one sample: a scan rotation
        (the scan, the three SQL statements and the object-store
        lookups), or three ingest cycles, the last one checkpointing.
        Every sample then holds the same mix of operations. An ingest
        cycle's operations are made only once the previous cycle ran:
        each reads the table version and the log as they stand."""
        if self.shape_name == "scan":
            while True:
                yield self.scan_rotation
        else:
            for first in itertools.count(1, CHECKPOINT_EVERY):
                cycles = range(first, first + CHECKPOINT_EVERY)
                yield lambda cycles=cycles: (
                    op for c in cycles for op in self.ingest_cycle(c)
                )

    def warm_up(self) -> None:
        """Every operation type at least once, checks included, nothing
        recorded: one scan rotation (its first object-store lookup pays
        the Python worker start-up), or the first ingest round. A single
        ingest cycle leaves the JVM still compiling the write path, and
        the first timed round then ran 20-45 % slower than the second,
        by an amount that differed from run to run. The ingest
        table, which has no SQL in its stream, first gets a SQL check of
        the build, traced as a set-up call."""
        self._rounds = self.rounds()
        if self.shape_name == "ingest":
            self.execute(self.sql_check_op(), record=False,
                         traced=self.tracer.trace_run)
            warm = next(self._rounds)()
        else:
            # the local reads and the first object-store lookup
            warm = self.scan_rotation()[:5]
        took = [f"{op.kind} {self.execute(op, record=False):.2f}" for op in warm]
        print("# warm-up (s): " + ", ".join(took))

    def measure(self, seconds: float) -> list[float]:
        """Closed loop until ``seconds`` of operation time have elapsed;
        returns one latency per sample. Storage amplification is taken
        after the second round, so it reflects the same amount of writing
        however fast the run went. A failed operation, or a run past
        ``WALL_LIMIT_FACTOR`` × ``seconds`` of wall time, ends the loop
        after the round in progress."""
        samples: list[float] = []
        deadline = time.monotonic() + WALL_LIMIT_FACTOR * seconds
        for make in self._rounds:
            samples.append(sum(self.execute(op, record=True) for op in make()))
            if any(not r.ok for r in self.records):
                print(f"perfbench: timed loop stopped after round {len(samples)}",
                      file=sys.stderr)
                return samples
            if len(samples) < AMPLIFICATION_ROUND:
                continue
            if len(samples) == AMPLIFICATION_ROUND:
                self.amplification = (
                    table_bytes(self.lh.root) / state_bytes(self.oracle)
                )
            if sum(samples) >= seconds:
                return samples
            if time.monotonic() > deadline:
                print("perfbench: timed loop past its wall limit after round "
                      f"{len(samples)}", file=sys.stderr)
                return samples


def _note_written(span, before, after) -> None:
    """Files and bytes a commit added, as attributes of its span."""
    if span is None:
        return
    old = set(before.file_key_stats())
    sizes = after.file_sizes()
    new = [f for f in after.file_key_stats() if f not in old]
    span.attrs.update(files=len(new), bytes=sum(sizes.get(f, 0) for f in new))


def _note_removed(span, removed: dict) -> None:
    if span is not None:
        span.attrs["files"] = len(removed["removed_files"])


def _rfc(t) -> str:
    from bazof_spark.asof import format_rfc3339_ms

    return format_rfc3339_ms(t)


# -- results ---------------------------------------------------------------


def quantile(values, q: float) -> float:
    """Inclusive percentile; 0 for no values (a run whose loop stopped
    on a failure may have none of a kind)."""
    values = sorted(values)
    if len(values) <= 1:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def table_bytes(root: str) -> int:
    from pyarrow import fs as pafs

    from bazof_spark import iofs

    fs, rel = iofs.split(iofs.join(root, TABLE))
    infos = fs.get_file_info(pafs.FileSelector(rel, recursive=True))
    return sum(i.size for i in infos if i.type == pafs.FileType.File)


def state_bytes(oracle: Oracle) -> int:
    buf = io.BytesIO()
    pq.write_table(oracle.state(None), buf)
    return buf.tell()


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the JVM, from /proc."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0
