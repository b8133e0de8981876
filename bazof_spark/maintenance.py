"""Table maintenance: checkpoint compaction, schema evolution, metadata
validation.

All three are unchecked roadmap items in the reference
(README.md:150-160 — "compaction", "schema evolution", "metadata
validation"); this module implements them Spark-first.

Checkpoint compaction
---------------------
Read amplification grows with delta count: every scan unions all
eligible files and the merge discards the shadowed rows. ``checkpoint``
bounds it the way the reference's own ``financials`` layout does
(year segments with base files, test-data/financials/s1.json): freeze
the current tree at time T and open a new segment whose base file is
the merged Current state.

Preserving azof merge semantics exactly requires care on three counts
(all consequences of crates/azof/src/metadata.rs:20-25,47-104):

1. Concatenating base+delta files is NOT semantics-preserving:
   cross-file precedence beats timestamps (a delta row shadows a
   later-timestamped base row), and once rows share one file that
   precedence is gone. So compaction must keep old files intact and
   add a *merged* base, never merge files in place.
2. Closed segments are not inert: a top-level segment's own DELTAS stay
   eligible at every as-of (delta eligibility ignores the segment
   range; Current ignores it entirely). Simply closing the open
   segment would leave its deltas shadowing the new base forever. The
   fix: previously-open segments are wrapped under a CLOSED parent —
   child segments ARE range-checked recursively, so for ``t > T`` (and
   Current) the wrapper prunes them wholesale. Previously-closed
   top-level segments keep their historical delta-leak behavior by
   staying exactly where they were.
3. ``Current`` is not ``EventTime(∞)``: closed segments' bases are
   invisible to Current. The checkpoint base is therefore computed with
   **Current** pruning; given the no-future-rows precondition below,
   ``EventTime(t > T)`` resolves to the same winners.

Precondition (checked, one Spark job): no data row and no delta/segment
start may lie beyond T — i.e. checkpoint "now", not in the past.
Future-dated rows would otherwise be stranded inside the wrapper.

Reads are then bit-identical at every as-of: ``t <= T`` resolves
through the wrapped (unchanged) subtree, ``t > T`` and Current through
the new base alone. Old snapshots remain readable (snapshots are
immutable; ``version.txt`` is the only mutable pointer, flipped last —
same publish protocol as the writer). The state computation is the
distributed scan itself, so a checkpoint of a 100 TB table is one
Spark job (scan → single shuffle merge → write), not a driver loop.

Validation
----------
``validate_snapshot`` checks the structural invariants the pruning
algorithm relies on; ``validate_table`` additionally checks that every
data file exists and, per file, the invariants the merge relies on:
unique (key, event_time) pairs, event_time DESC order, and key blooms
that never deny a present key. The per-file check is one pyarrow task
in the executors, all files in ONE Spark job on any root, local or
object store; the driver gets back one row per file.
"""

from __future__ import annotations

import dataclasses
import os
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import functions as F

from bazof_spark import iofs
from bazof_spark.asof import Current as CURRENT
from bazof_spark.errors import BazofError
from bazof_spark.metadata import Segment, Snapshot
from bazof_spark.projection import Projection
from bazof_spark.schema import (
    EVENT_TIME_COL,
    KEY_COL,
    ColumnDef,
    ColumnType,
    TableSchema,
)
from bazof_spark.table import VERSION_FILE, Table
from bazof_spark.writer import arrow_duplicate_pairs, dataframe_to_parquet_file


# ---------------------------------------------------------------------------
# Checkpoint compaction
# ---------------------------------------------------------------------------


def checkpoint_table(
    lakehouse,
    table_name: str,
    at: datetime,
    segment_id: str | None = None,
    cluster_by: list[str] | None = None,
    zorder_bits: int = 12,
    row_group_rows: int | None = None,
) -> Snapshot:
    """Compact ``table_name`` at time ``at`` (= T): wrap the
    previously-open segments under a closed parent and open a new
    segment whose base file is the merged Current state. Reads are
    preserved bit-identically at every as-of (see module docstring).
    Returns the committed snapshot. Works on any table root: local and
    file:// scans go through the JVM parquet reader; object-store roots
    read the merged-state scan's driver-planned byte ranges with
    executor-side pyarrow through iofs (the path Lakehouse.scan
    auto-selects), and metadata + the base write were iofs-routed from
    the start."""
    from bazof_spark.writer import _commit, file_stats

    if at.tzinfo is None:
        at = at.replace(tzinfo=timezone.utc)
    table = lakehouse.table(table_name)
    seg_id = segment_id or f"checkpoint_{int(at.timestamp() * 1000)}"
    base_file = f"{seg_id}_base.parquet"

    def place(snapshot: Snapshot, next_version: str, _) -> Snapshot:
        _check_nothing_beyond(lakehouse, table, snapshot, at)
        # distributed state computation: the Current scan itself
        # (Current pruning, NOT EventTime(T) — closed bases are
        # invisible to Current)
        state = lakehouse.scan_snapshot(
            table, snapshot, CURRENT, Projection.all()
        )
        order_by = None
        if cluster_by:
            # Z-order clustered base: multi-column data skipping (see
            # operators/zorder.py). Sound because a checkpoint base has
            # one row per key, so merge winner selection is
            # order-independent; validate_table treats unique-key
            # unsorted files as a layout warning, not an error.
            from bazof_spark.operators.zorder import zorder_code

            order_by = [zorder_code(state, cluster_by, zorder_bits)]
        dataframe_to_parquet_file(
            state,
            table.data_file_path(base_file),
            order_by=order_by,
            row_group_rows=row_group_rows,
        )

        was_open = [s for s in snapshot.segments if s.end is None]
        segments = tuple(s for s in snapshot.segments if s.end is not None)
        if was_open:
            wrapper = Segment(
                id=f"{seg_id}_archived",
                start=min(s.start for s in was_open),
                end=at,
                # every recorded field carries over — sizes, bounds
                # and the base-file bloom alike — only the span closes
                segments=tuple(
                    dataclasses.replace(s, end=at)
                    for s in was_open
                ),
            )
            segments = segments + (wrapper,)
        # a big compacted base gets range-only pruning: file_stats
        # skips the bloom on the footer row count
        new_seg = Segment(
            id=seg_id, start=at, file=base_file,
            **file_stats(table.path, base_file),
        )
        return Snapshot(
            segments=segments + (new_seg,), schema=snapshot.schema
        )

    # the one commit transaction (writer._commit), without retries: the
    # base was computed from the snapshot read, so a writer commit
    # landing while the checkpoint ran raises CommitConflictError
    # instead of being silently overwritten
    return _commit(table.path, place)


def optimize_table(
    lakehouse,
    table_name: str,
    at: datetime,
    cluster_by: list[str],
    zorder_bits: int = 12,
    row_group_rows: int = 8192,
) -> Snapshot:
    """Layout optimization (Delta ``OPTIMIZE ... ZORDER BY`` analog):
    a checkpoint whose merged base is written in Z-order over
    ``cluster_by`` with bounded row groups, so selective predicates on
    ANY clustered column prune most row groups via parquet min/max
    stats. Reads stay bit-identical at every as-of (it IS a
    checkpoint); the base's one-row-per-key property keeps merge
    winner selection order-independent."""
    return checkpoint_table(
        lakehouse,
        table_name,
        at,
        segment_id=f"optimize_{int(at.timestamp() * 1000)}",
        cluster_by=cluster_by,
        zorder_bits=zorder_bits,
        row_group_rows=row_group_rows,
    )


def _check_nothing_beyond(
    lakehouse, table: Table, snapshot: Snapshot, at: datetime
) -> None:
    """Checkpoint precondition: no segment/delta starts and no data row
    event_time beyond T (checkpoint 'now', not in the past), and the
    canonical top-level layout (all closed segments precede all open
    ones — what the writer produces). checkpoint_table re-emits segments
    as [kept closed..., wrapper(open...), new base]; merge precedence is
    document order and a closed top-level segment's deltas stay eligible
    at every as-of, so if an open segment originally preceded a closed
    one, that reorder would hand the closed segment's deltas precedence
    they never had — silently flipping winners. Refuse instead."""
    seen_open = False
    for seg in snapshot.segments:
        if seg.end is None:
            seen_open = True
        elif seen_open:
            raise BazofError(
                f"closed top-level segment {seg.id} follows an open one; "
                "checkpoint preserves document-order precedence only for "
                "the canonical layout (closed segments first) — refusing"
            )
    for seg in _all_segments(snapshot):
        if seg.start > at:
            raise BazofError(
                f"segment {seg.id} starts after checkpoint time {at}"
            )
        for d in seg.delta:
            if d.start > at:
                raise BazofError(
                    f"delta {d.file} starts after checkpoint time {at}"
                )
    # Wrapping demotes an open TOP-LEVEL segment to a range-checked
    # child: at root level its deltas were always eligible (no range
    # check at the root, metadata.rs:20-25), as a child they are only
    # reachable when t >= segment.start. A delta or descendant segment
    # starting BEFORE its open top-level segment's start would thus be
    # eligible at t in [start_of_that_item, segment.start) before the
    # checkpoint but unreachable after — refuse rather than diverge.
    # (The writer never produces this layout; foreign metadata might.)
    def _subtree_min_start(seg: Segment) -> datetime:
        starts = [seg.start]
        starts += [d.start for d in seg.delta]
        starts += [_subtree_min_start(c) for c in seg.segments]
        return min(starts)

    for seg in snapshot.segments:
        if seg.end is None and _subtree_min_start(seg) < seg.start:
            raise BazofError(
                f"open segment {seg.id} contains a delta/child starting "
                "before the segment itself; wrapping it would strand "
                "those rows for as-of times before the segment start — "
                "refusing to checkpoint"
            )
    files = sorted(
        {
            f
            for s in _all_segments(snapshot)
            for f in ([s.file] if s.file else []) + [d.file for d in s.delta]
        }
    )
    if files:
        paths = [table.data_file_path(f) for f in files]
        if iofs.is_uri(table.path) and not table.path.startswith("file://"):
            # object-store root (no JVM connector): the bound is a max
            # over per-file footer stats — one driver-side metadata
            # fetch per file, the same O(files-in-commit) cost profile
            # as the zone-map build; a stats-less footer falls back to
            # reading that file's event_time column through iofs
            max_ts = _max_event_time_arrow(paths)
        else:
            df = lakehouse.spark.read.parquet(*paths)
            max_ts = df.agg(F.max(EVENT_TIME_COL)).first()[0]
        if max_ts is not None:
            if max_ts.tzinfo is None:
                max_ts = max_ts.replace(tzinfo=timezone.utc)
            if max_ts > at:
                raise BazofError(
                    f"data rows exist beyond checkpoint time {at} "
                    f"(max event_time {max_ts}); checkpoint later"
                )


def _max_event_time_arrow(paths: list[str]):
    """max(event_time) across parquet files via iofs-resolved footers
    (column statistics), falling back to a single-column read where a
    footer lacks usable stats. Returns a datetime or None."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bazof_spark.writer import _column_footer_bounds

    best = None
    for path in paths:
        fs, rel = iofs.split(path)
        pf = pq.ParquetFile(fs.open_input_file(rel))
        _, file_max = _column_footer_bounds(pf.metadata, EVENT_TIME_COL)
        if file_max is None and EVENT_TIME_COL in pf.schema_arrow.names:
            col = pf.read(columns=[EVENT_TIME_COL]).column(EVENT_TIME_COL)
            file_max = pc.max(col).as_py()
        if file_max is not None and (best is None or file_max > best):
            best = file_max
    return best


# ---------------------------------------------------------------------------
# Schema evolution
# ---------------------------------------------------------------------------


def evolve_table_schema(
    lakehouse,
    table_name: str,
    add: list[ColumnDef] | None = None,
    drop: list[str] | None = None,
    rename: dict[str, str] | None = None,
    widen: dict[str, "ColumnType | str"] | None = None,
) -> Snapshot:
    """Schema evolution (reference roadmap, README.md:159): commit a new
    snapshot with columns added, dropped, renamed and/or type-widened.

    ``add``/``drop``/``rename`` are metadata-only and O(1): the new
    snapshot reuses the existing segment tree. Reads resolve per the
    snapshot's schema — files written before an added column null-fill
    it (the scan reads with an explicit StructType), files still
    carrying a dropped column simply don't have it selected, and files
    written before a RENAME keep the old name on disk: the renamed
    ColumnDef records it in ``formers`` and every reader coalesces the
    spellings (schema.to_read_struct_type). New writes use the new
    name; no data moves.

    ``widen`` (the documented type-widening rule): **Int → Float is the
    only widening** in the type system (schema.rs:15-21 + our Float
    extension). It is NOT metadata-only: Int is stored as parquet
    int64, and int64 → double is a lossy promotion (>2⁵³) that Spark's
    parquet reader deliberately refuses under an explicit read schema —
    so the widen performs a structure-preserving REWRITE: every file
    referenced by the current snapshot is re-written with the column
    cast (row order preserved — the intra-file tie-break depends on
    physical order), the segment tree keeps its exact shape/ids/stats
    with new file names, and the old files stay on disk referenced by
    prior snapshots (version travel to a pre-widen snapshot still reads
    them with the old schema; vacuum reclaims them under its normal
    retention). Values ≤ 2⁵³ in magnitude convert exactly. Narrowing
    and other type changes are rejected.
    """
    from bazof_spark.writer import _commit

    widen = {
        k: (v if isinstance(v, ColumnType) else ColumnType(v))
        for k, v in (widen or {}).items()
    }
    table = lakehouse.table(table_name)

    def place(snapshot: Snapshot, next_version: str, _) -> Snapshot:
        new_schema = _evolved_schema(snapshot.schema, add, drop, rename, widen)
        segments = snapshot.segments
        if widen:
            segments = _rewrite_tree_with_cast(
                table, snapshot.segments, snapshot.schema, widen,
                suffix=f"w{next_version}",
            )
        return Snapshot(segments=segments, schema=new_schema)

    # the one commit transaction (writer._commit), without retries: a
    # commit landing meanwhile raises CommitConflictError
    return _commit(table.path, place)


def _evolved_schema(
    schema: TableSchema,
    add: list[ColumnDef] | None = None,
    drop: list[str] | None = None,
    rename: dict[str, str] | None = None,
    widen: dict[str, ColumnType] | None = None,
) -> TableSchema:
    """``schema`` with the :func:`evolve_table_schema` changes applied,
    each checked against it first (BazofError on a collision, an
    unknown column or an unsupported type change)."""
    add = add or []
    drop = drop or []
    rename = dict(rename or {})
    widen = widen or {}
    existing = {c.name for c in schema.columns}
    former_names = schema.former_names()
    for col in add:
        if col.name in existing or col.name in (KEY_COL, EVENT_TIME_COL):
            raise BazofError(f"column {col.name!r} already exists")
        if col.name in former_names:
            raise BazofError(
                f"column name {col.name!r} is a FORMER name of a renamed "
                "column — old data files still carry it, so reusing it "
                "would alias their values into the new column"
            )
        if not col.nullable:
            raise BazofError(
                f"added column {col.name!r} must be nullable "
                "(existing rows have no value for it)"
            )
    for name in drop:
        if name in (KEY_COL, EVENT_TIME_COL):
            raise BazofError(f"cannot drop system column {name!r}")
        if name not in existing:
            raise BazofError(f"cannot drop unknown column {name!r}")
    added_names = {c.name for c in add}
    for old, new in rename.items():
        if old in (KEY_COL, EVENT_TIME_COL):
            raise BazofError(f"cannot rename system column {old!r}")
        if old not in existing:
            raise BazofError(f"cannot rename unknown column {old!r}")
        if new in (KEY_COL, EVENT_TIME_COL) or new in existing:
            raise BazofError(f"rename target {new!r} already exists")
        # an add in the SAME call also claims its name: rename={Y:X} +
        # add=[X] would otherwise pass both per-list guards and commit
        # a schema with two 'X' columns (TableSchema now also rejects
        # duplicates at construction — this gives the precise message)
        if new in added_names:
            raise BazofError(
                f"rename target {new!r} collides with a column added "
                "in the same statement"
            )
        if new in former_names or new in rename or list(
            rename.values()
        ).count(new) > 1:
            raise BazofError(
                f"rename target {new!r} collides with a former or "
                "concurrently-renamed column name"
            )
    for name, target in widen.items():
        if name not in existing:
            raise BazofError(f"cannot widen unknown column {name!r}")
        cur = next(c for c in schema.columns if c.name == name)
        if not (cur.data_type is ColumnType.INT and target is ColumnType.FLOAT):
            raise BazofError(
                f"unsupported type change {cur.data_type.value} -> "
                f"{target.value} for {name!r}: the widening rule is "
                "Int -> Float only (every other pair is a narrowing or "
                "a re-interpretation)"
            )
        if name in rename or name in drop:
            raise BazofError(
                f"column {name!r} cannot be widened and renamed/dropped "
                "in the same statement"
            )

    def _evolve_col(c: ColumnDef) -> ColumnDef:
        if c.name in widen:
            return ColumnDef(
                name=c.name,
                data_type=widen[c.name],
                nullable=c.nullable,
                formers=c.formers,
            )
        if c.name in rename:
            return ColumnDef(
                name=rename[c.name],
                data_type=c.data_type,
                nullable=c.nullable,
                formers=c.formers + (c.name,),
            )
        return c

    return TableSchema(
        tuple(_evolve_col(c) for c in schema.columns if c.name not in set(drop))
        + tuple(add)
    )


def _rewrite_tree_with_cast(
    table,
    segments,
    old_schema: TableSchema,
    widen: dict[str, ColumnType],
    suffix: str,
) -> tuple:
    """Structure-preserving rewrite for type widening: every file in the
    tree is re-written with the widened column(s) cast (pyarrow,
    row-order preserved — the merge's intra-file tie-break is physical
    position), under a new name ``{stem}__{suffix}.parquet``; segment
    ids, ranges, and zone stats carry over unchanged (the cast touches
    neither keys nor event-time values); each file's ``size`` is the
    new file's. Old files are left for prior
    snapshots / vacuum. Former spellings of renamed columns are cast
    in place under their stored name, so reader coalescing still works
    post-widen."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bazof_spark import iofs
    from bazof_spark.metadata import Segment
    from bazof_spark.writer import _write_arrow_file

    # stored name -> target arrow type: the widened column may live in
    # files under a former spelling too
    targets: dict[str, pa.DataType] = {}
    for c in old_schema.columns:
        if c.name in widen:
            for stored in (c.name, *c.formers):
                targets[stored] = pa.float64()

    def _rewritten(rec):
        """``rec`` (a Delta or a Segment with a base file) pointing at a
        cast copy of its file, with the copy's real size."""
        new_name = f"{rec.file.removesuffix('.parquet')}__{suffix}.parquet"
        src_fs, src_rel = iofs.split(table.data_file_path(rec.file))
        t = pq.read_table(src_rel, filesystem=src_fs)
        fields = []
        for f in t.schema:
            tgt = targets.get(f.name)
            fields.append(f.with_type(tgt) if tgt is not None else f)
        t = t.cast(pa.schema(fields))
        # the writer's own file write: timestamps go back as µs UTC (an
        # INT96 event_time reads as ns, and ns written back is INT64
        # nanos, which the JVM parquet scan rejects), with page indexes
        # and the key bloom
        size = _write_arrow_file(t, table.data_file_path(new_name))
        return dataclasses.replace(rec, file=new_name, size=size)

    def _walk(seg: Segment) -> Segment:
        seg = dataclasses.replace(
            seg,
            segments=tuple(_walk(s) for s in seg.segments),
            delta=tuple(_rewritten(d) for d in seg.delta),
        )
        return _rewritten(seg) if seg.file else seg

    return tuple(_walk(s) for s in segments)


# ---------------------------------------------------------------------------
# Validation
# ---------------------------------------------------------------------------


@dataclass
class ValidationReport:
    errors: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.errors

    def raise_if_invalid(self) -> None:
        if self.errors:
            raise BazofError(
                "snapshot validation failed: " + "; ".join(self.errors)
            )


def _walk(seg: Segment, parent: Segment | None, report: ValidationReport) -> None:
    if seg.end is not None and seg.end < seg.start:
        report.errors.append(f"segment {seg.id}: end < start")
    if parent is not None:
        if seg.start < parent.start:
            report.errors.append(
                f"segment {seg.id}: starts before parent {parent.id}"
            )
        if parent.end is not None and (seg.end is None or seg.end > parent.end):
            report.errors.append(
                f"segment {seg.id}: extends past closed parent {parent.id}"
            )
    for d in seg.delta:
        if d.end < d.start:
            report.errors.append(f"segment {seg.id}: delta {d.file}: end < start")
        if d.start < seg.start:
            report.warnings.append(
                f"segment {seg.id}: delta {d.file} starts before segment"
            )
    if seg.file is None and not seg.segments and not seg.delta:
        report.warnings.append(f"segment {seg.id}: empty (no base/children/deltas)")
    for child in seg.segments:
        _walk(child, seg, report)


def validate_snapshot(snapshot: Snapshot) -> ValidationReport:
    """Structural invariants the pruning algorithm relies on. Errors are
    violations that change/poison query results; warnings are suspicious
    but legal shapes (the format itself allows them)."""
    report = ValidationReport()
    if not snapshot.schema.columns:
        report.warnings.append("schema declares no value columns")
    seen: set[str] = set()
    open_ended = 0
    for seg in snapshot.segments:
        if seg.id in seen:
            report.errors.append(f"duplicate segment id {seg.id}")
        seen.add(seg.id)
        if seg.end is None:
            open_ended += 1
        _walk(seg, None, report)
    if open_ended > 1:
        report.warnings.append(
            f"{open_ended} open-ended top-level segments: Current reads "
            "resolve key conflicts by document order"
        )
    return report


_FILE_FINDINGS = (
    "dupes long, unsorted boolean, repeats boolean, "
    "unreadable long, denied long"
)


def _check_data_file(path: str) -> dict:
    """One data file's invariant findings, read through ONE handle:
    ``key``/``event_time`` via ``pq.ParquetFile``, the footer and each
    key-column bloom blob by ranged reads.

    - ``dupes``: (key, event_time) pairs occurring more than once;
    - ``unsorted``: some adjacent non-null event_time pair ascends (the
      file is not event_time DESC);
    - ``repeats``: some key occurs more than once;
    - ``unreadable``: key bloom blobs that do not parse;
    - ``denied``: sampled keys (the first 64 of each row group) that
      their group's own bloom denies.

    A file pyarrow cannot read raises."""
    import struct

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bazof_spark.operators.parquetbloom import (
        might_contain,
        parse_bloom_blob,
        plain_encoded,
        xxh64,
    )
    from bazof_spark.operators.parquetmeta import parse_footer_blob
    from bazof_spark.writer import arrow_duplicate_pairs

    filesystem, rel = iofs.split(path)
    with filesystem.open_input_file(rel) as fin:
        t = pq.ParquetFile(fin).read(columns=[KEY_COL, EVENT_TIME_COL])
        size = fin.size()
        (meta_len,) = struct.unpack("<I", fin.read_at(4, size - 8))
        try:
            footer = parse_footer_blob(fin.read_at(meta_len, size - 8 - meta_len))
        except Exception:
            footer = {}  # footer problems are the structure checks' job
        blooms = []  # (first row of the group, its row count, bloom blob)
        first_row = 0
        for rg in footer.get("row_groups", []):
            for c in rg["columns"]:
                off = c.get("bloom_filter_offset")
                ln = c.get("bloom_filter_length")
                if c.get("path_in_schema") == [KEY_COL] and off and ln:
                    blooms.append((first_row, rg["num_rows"], fin.read_at(ln, off)))
            first_row += rg["num_rows"]

    keys, ts = t[KEY_COL], t[EVENT_TIME_COL]
    unreadable = denied = 0
    for first, n, blob in blooms:
        try:
            bitset = parse_bloom_blob(blob)
        except Exception:
            unreadable += 1
            continue
        denied += sum(
            1
            for k in keys.slice(first, min(n, 64)).to_pylist()
            if k is not None
            and not might_contain(bitset, xxh64(plain_encoded(k, "BYTE_ARRAY")))
        )
    return {
        "dupes": arrow_duplicate_pairs(t),
        "unsorted": bool(pc.any(pc.greater(ts[1:], ts[:-1])).as_py()),
        "repeats": pc.count_distinct(keys, mode="all").as_py() < len(keys),
        "unreadable": unreadable,
        "denied": denied,
    }


def _data_file_checks(spark, present: list[str], report: ValidationReport):
    """Check every present data file in ONE Spark job, one task per
    file; the driver only sums the per-file rows into the report. The
    path list and the driver's ``BAZOF_*`` env ride in the task closure,
    as in ``datasource.file_range_task_reader``."""
    env = iofs.env_snapshot()

    def check(batches):
        import pyarrow as pa

        iofs.apply_env(env)
        for b in batches:
            for i in b.column(0).to_pylist():
                yield pa.RecordBatch.from_pylist([_check_data_file(present[i])])

    n = len(present)
    rows = spark.range(0, n, 1, n).mapInArrow(check, _FILE_FINDINGS).collect()
    unreadable = sum(r["unreadable"] for r in rows)
    denied = sum(r["denied"] for r in rows)
    dupes = sum(r["dupes"] for r in rows)
    diverging = sum(1 for r in rows if r["unsorted"] and r["repeats"])
    clustered = sum(1 for r in rows if r["unsorted"] and not r["repeats"])
    # a bloom may lie POSITIVE, never negative: a denial of a present key
    # makes every reader trusting the bloom (parquet-mr, the Data Source
    # planner) skip the group and lose rows, so it is an error; an
    # unreadable blob only stops pruning there
    if unreadable:
        report.warnings.append(
            f"{unreadable} key bloom filters unreadable; readers "
            "ignore them (no pruning from those groups)"
        )
    if denied:
        report.errors.append(
            f"{denied} sampled keys are DENIED by their row group's "
            "own bloom filter; readers probing it (parquet-mr, the "
            "Data Source planner) would wrongly skip rows"
        )
    if dupes:
        # warning, not error: at equal timestamps the scan's _row_idx
        # tie-break keeps the first physical row — exactly the
        # reference's first-row-wins — so reads stay well-defined and
        # reference-identical. (The reference's own shipped financials
        # table contains 5 such pairs.) Our writer still refuses to
        # produce them (validate_data_file_invariants).
        report.warnings.append(
            f"{dupes} duplicate (key, event_time) pairs within a data "
            "file; ties resolve to the first physical row (reference "
            "semantics)"
        )
    # Intra-file winner selection (lakehouse._dedup_latest_per_key) picks
    # max event_time with _row_idx as tie-break; the reference keeps the
    # first physically-eligible row per key regardless of timestamp
    # (lakehouse.rs:54-79). The two agree only when every file is sorted
    # event_time DESC, an invariant our writer enforces but foreign azof
    # files need not satisfy. Exception: a file where every key occurs
    # ONCE (e.g. a Z-order-clustered checkpoint base) is
    # order-independent, so unsortedness there is a layout deviation
    # (warning), not a semantic divergence (error).
    if diverging:
        report.errors.append(
            f"{diverging} data files are not sorted event_time DESC "
            "and repeat keys; merge winner selection diverges from "
            "the reference's first-row-wins on unsorted files"
        )
    if clustered:
        report.warnings.append(
            f"{clustered} data files are not sorted event_time DESC "
            "but hold one row per key (clustered base layout); merge "
            "is order-independent there"
        )


def validate_table(
    lakehouse, table_name: str, data_checks: bool = True
) -> ValidationReport:
    """Snapshot structure, file existence and data-file invariants.

    The data checks run in executors: ONE Spark job with one task per
    present file (:func:`_check_data_file`), on local and object-store
    roots alike, returning O(files) rows to the driver. The driver
    itself opens no data file. ``data_checks=False`` stops after
    structure validation and the (iofs-based) file-existence probe."""
    table: Table = lakehouse.table(table_name)
    snapshot = table.get_current_snapshot()
    report = validate_snapshot(snapshot)

    files = {f for f, _ in snapshot.ranked_data_files()} | {
        f
        for s in _all_segments(snapshot)
        for f in ([s.file] if s.file else []) + [d.file for d in s.delta]
    }
    # iofs.exists, not os.path.exists: the table root may be an
    # object-store URI where a local stat is always False (every file
    # would be misreported missing)
    missing = [
        f for f in sorted(files) if not iofs.exists(table.data_file_path(f))
    ]
    for f in missing:
        report.errors.append(f"data file missing: {f}")
    present = [table.data_file_path(f) for f in sorted(files) if f not in missing]
    if present and data_checks:
        _data_file_checks(lakehouse.spark, present, report)
    return report


def _all_segments(snapshot: Snapshot):
    stack = list(snapshot.segments)
    while stack:
        s = stack.pop()
        yield s
        stack.extend(s.segments)


# ---------------------------------------------------------------------------
# Restore (version rollback) + vacuum (unreferenced-file GC)
# ---------------------------------------------------------------------------


def _referenced_files(snapshot: Snapshot) -> set[str]:
    files: set[str] = set()
    for seg in _all_segments(snapshot):
        if seg.file:
            files.add(seg.file)
        for d in seg.delta:
            files.add(d.file)
    return files


_SNAPSHOT_RE = re.compile(r"^s(\d+)\.json$")
#: temp dirs a crashed write leaves in a table root: the JVM job dir
#: ``_{stem}_job`` and the pyarrow stage dirs ``_{stem}_stage-{hex}``
#: (writer) and ``_ds_stage_{hex}`` (Data Source writer)
_STAGING_DIR_RE = re.compile(
    r"^_(?:.*_)?(?:job|stage-[0-9a-f]+)$|^_ds_stage_[0-9a-f]+$"
)


def _numeric_versions(table_path: str) -> list[int]:
    from bazof_spark import iofs

    out = []
    for f in iofs.listdir(table_path):
        m = _SNAPSHOT_RE.match(f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def restore_table(lakehouse, table_name: str, version: str | int) -> Snapshot:
    """Roll the table back to a previous snapshot — the Delta-style
    RESTORE the reference's single mutable ``version.txt`` pointer makes
    trivial (crates/azof/src/table.rs:35-41).

    History stays linear: the restored state is **re-published as a new
    snapshot version** (content of ``s{version}.json`` copied to
    ``s{max+1}.json``, pointer flipped there), so a later upsert can
    never overwrite an existing snapshot file of the abandoned branch.
    Time/as-of travel within the restored snapshot is unaffected.
    """
    table = lakehouse.table(table_name)
    snapshot = table.get_snapshot(str(version))  # must exist + deserialize
    missing = [
        f
        for f in _referenced_files(snapshot)
        if not iofs.exists(iofs.join(table.path, f))
    ]
    if missing:
        raise BazofError(
            f"cannot restore to version {version}: {len(missing)} referenced "
            f"data file(s) no longer exist (vacuumed?): {missing[:3]}"
        )
    # the one commit transaction (writer._commit): a writer commit
    # racing the restore raises CommitConflictError instead of being
    # silently overwritten
    from bazof_spark.writer import _commit

    return _commit(table.path, lambda current, next_version, _: snapshot)


#: default minimum age before an UNREFERENCED file is collectible —
#: the Delta-style retention guard: a delta staged by an in-flight
#: commit is unreferenced until its snapshot publishes, so deleting
#: young strays can destroy data an imminent commit references.
VACUUM_MIN_AGE_S = 3600.0


def vacuum_table(
    lakehouse,
    table_name: str,
    keep_versions: int = 1,
    dry_run: bool = False,
    min_age_s: float = VACUUM_MIN_AGE_S,
) -> dict:
    """Garbage-collect a table directory (Delta-style VACUUM): delete
    snapshot JSONs older than the ``keep_versions`` most recent ones,
    parquet data files referenced by NO retained snapshot, and leftover
    temp dirs from crashed distributed writes (``_*_job``,
    ``_*_stage-*``, ``_ds_stage_*``).

    Concurrency (two guards, belt and braces):

    - the whole list→delete pass runs under the table's COMMIT GUARD
      (writer._commit_lock): no snapshot can publish mid-vacuum, so a
      just-published ``s{N}.json`` (above the pointer vacuum read) can
      never be swept, and the reference set is computed against a
      frozen version chain;
    - ``min_age_s`` retention: an unreferenced parquet file / job dir
      younger than this is SKIPPED — it may be a delta staged by an
      in-flight commit that has written files but not yet published
      (files move before the snapshot flips). Pass ``0`` only when no
      writer can be active (tests, decommissioned tables).

    The format is append-mostly, so data files usually stay referenced
    forever; vacuum matters after operations that drop references
    (abandoned restore branches, schema/segment rewrites) and for
    write-job debris. Driver-side metadata work + file deletes — no
    Spark jobs. Readers pinned to a vacuumed old snapshot will fail,
    the standard retention trade-off; ``keep_versions`` is the window.

    Returns ``{"removed_files": [...], "removed_snapshots": [...],
    "removed_dirs": [...], "kept_versions": [...]}``; with
    ``dry_run=True`` nothing is deleted.
    """
    import time as _time

    from bazof_spark.writer import _commit_lock

    if keep_versions < 1:
        raise BazofError("keep_versions must be >= 1")
    table = lakehouse.table(table_name)

    def _young(full: str, if_unknown: bool = False) -> bool:
        if min_age_s <= 0:
            return False
        mtime = iofs.file_mtime(full)
        if mtime is None:
            return if_unknown
        return (_time.time() - mtime) < min_age_s

    with _commit_lock(table.path):
        current = int(table.current_version())
        versions = _numeric_versions(table.path)
        if current not in versions:
            raise BazofError(
                f"version pointer {current} has no s{current}.json"
            )
        # retain the keep_versions most recent, always including current
        retained = sorted(
            set(v for v in versions if v <= current)
        )[-keep_versions:]
        retained = sorted(set(retained) | {current})
        referenced: set[str] = set()
        for v in retained:
            referenced |= _referenced_files(table.get_snapshot(str(v)))

        removed_files: list[str] = []
        removed_snapshots: list[str] = []
        removed_dirs: list[str] = []
        # iofs listing/deletes: vacuum works unchanged on object-store
        # URIs (a "directory" there is a key prefix; pyarrow maps both)
        for f, is_dir in sorted(iofs.listdir_info(table.path)):
            full = iofs.join(table.path, f)
            if is_dir:
                # an object-store prefix has no mtime: it may be an
                # in-flight write's stage dir, so unknown age keeps it
                if _STAGING_DIR_RE.match(f) and not _young(
                    full, if_unknown=True
                ):
                    removed_dirs.append(f)
                    if not dry_run:
                        iofs.delete_dir(full)
                continue
            m = _SNAPSHOT_RE.match(f)
            if m:
                v = int(m.group(1))
                # BELOW/AT the pointer, retained-set membership alone
                # decides: the commit guard freezes the chain while the
                # reference set is computed. ABOVE the pointer the
                # guard is only mutual exclusion on GUARDED schemes —
                # on an unregistered object store (UnguardedPublish) a
                # concurrent commit's just-written s{N}.json could sit
                # there in its write→flip window, and sweeping it would
                # leave version.txt pointing at a missing snapshot. The
                # min_age_s retention makes that safe the same way it
                # does for staged parquet: only OLD above-pointer
                # snapshots (truly abandoned publishes) are removed.
                if v not in retained:
                    if v > current and _young(full):
                        continue
                    removed_snapshots.append(f)
                    if not dry_run:
                        iofs.delete(full)
                continue
            if ".json.stage-" in f:
                # snapshot staged by writer._publish_snapshot whose
                # writer crashed between stage and finalize; same
                # min_age_s retention as in-flight parquet
                if not _young(full):
                    removed_files.append(f)
                    if not dry_run:
                        iofs.delete(full)
                continue
            if f.endswith(".parquet") and f not in referenced and not _young(
                full
            ):
                removed_files.append(f)
                if not dry_run:
                    iofs.delete(full)
    return {
        "removed_files": removed_files,
        "removed_snapshots": removed_snapshots,
        "removed_dirs": removed_dirs,
        "kept_versions": [str(v) for v in retained],
    }
