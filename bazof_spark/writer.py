"""Writers: CSV→parquet generation and table/snapshot authoring.

The reference ships only test tooling for writes — ``azof-cli gen``
converts a headerless CSV next to the table into one parquet file
(crates/azof-cli/src/main.rs:61-99, crates/azof-cli/src/test_bench.rs:14-51)
— and roadmaps a real writer (README.md:152). This module provides both:

- :func:`csv_to_dataframe` / :func:`dataframe_to_parquet_file` — the gen
  path, preserving the physical-layout invariant the merge relies on:
  files sorted by ``event_time`` DESC, unique (key, event_time) per file
  (crates/azof-cli/src/test_bench.rs:103-121; SURVEY §1.3);
- :class:`TableWriter` — authors ``version.txt`` + ``s{N}.json`` +
  base/delta parquet files, i.e. the writer the reference lacks
  (snapshot JSON format per docs/architecture.md:127-139 and
  test-data/*/s1.json).

Single data files are written driver-side via Arrow (these are batch
-sized artifacts: one base or delta). Nothing here sits on the 100 TB
read path — large tables are built by appending many delta files, each
written from one batch.

One Spark job per driver-side file: the batch is materialized ONCE with
``toArrow()`` and the same Arrow table then carries the whole commit —
the unique (key, event_time) check (:func:`arrow_duplicate_pairs`, the
Arrow twin of :func:`validate_data_file_invariants`, which exists
because the batch is already on the driver here), the empty-batch
check, the ``start``/``end`` bounds and the stable event_time-DESC sort.
No persist, no probe job, no range-partitioned sort. The distributed
paths (``append_delta(distributed=True)``, ``add_delta_distributed``,
``datasource.write_table``) never bring data to the driver and keep
their Spark-side checks.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bazof_spark import iofs
from bazof_spark.errors import BazofError
from bazof_spark.metadata import Delta, Segment, Snapshot
from bazof_spark.schema import EVENT_TIME_COL, KEY_COL, TableSchema
from bazof_spark.table import VERSION_FILE, Table


def csv_to_dataframe(
    spark: SparkSession, csv_path: str, schema: TableSchema
) -> DataFrame:
    """Headerless CSV ``key,event_time,values...`` per the declared schema
    (crates/azof-cli/src/test_bench.rs:14-51)."""
    struct = schema.to_struct_type()
    return (
        spark.read.schema(struct)
        .option("header", "false")
        .option("timestampFormat", "yyyy-MM-dd[['T']HH:mm:ss[.SSS]['Z']]")
        .csv(csv_path)
    )


def dataframe_to_parquet_file(
    df: DataFrame,
    dest_path: str,
    timestamp_unit: str = "us",
    order_by: list | None = None,
    row_group_rows: int | None = None,
) -> None:
    """Write ONE parquet file (not a Spark directory), sorted by
    ``event_time`` DESC — the layout invariant
    (crates/azof-cli/src/test_bench.rs:103-121). Gen tooling: batch-sized
    data, driver-side Arrow write.

    The default order costs one Spark job: ``toArrow()`` collects the
    batch and a stable Arrow sort orders it on the driver (rows sharing
    an event_time keep their input order) — the batch comes to the
    driver for the write anyway, so a Spark sort would only add its
    range-partition sample and sort shuffle.

    ``timestamp_unit``: the reference's Arrow schema is ms
    (crates/azof/src/schema.rs:188-197); we default to µs — Spark's
    native TimestampType resolution — so no precision is lost writing
    Spark data. Pass "ms" for byte-level reference compatibility.

    ``order_by`` overrides the sort (Z-order clustering writes bases
    sorted by Morton code instead — sound for unique-key bases, where
    merge winner selection is order-independent) and keeps it in Spark;
    ``row_group_rows`` bounds row-group size so min/max skipping has
    granularity."""
    if order_by is None:
        tbl = _collect_batch(df, validate=False)
    else:
        tbl = df.orderBy(*order_by).toArrow()
    _write_arrow_file(tbl, dest_path, timestamp_unit, row_group_rows)


def _write_arrow_file(
    tbl: pa.Table,
    dest_path: str,
    timestamp_unit: str = "us",
    row_group_rows: int | None = None,
) -> int:
    """Write an already-ordered Arrow table as ONE parquet file; returns
    the bytes written."""
    fields = []
    for f in tbl.schema:
        if pa.types.is_timestamp(f.type):
            fields.append(
                pa.field(f.name, pa.timestamp(timestamp_unit, tz="UTC"), f.nullable)
            )
        else:
            fields.append(f)
    tbl = tbl.cast(pa.schema(fields))
    # resolve through iofs so URI handling (incl. scheme emulation) is
    # identical for data bytes and metadata bytes
    dest_fs, dest_rel = iofs.split(dest_path)
    # page indexes (OffsetIndex/ColumnIndex) give the JVM vectorized
    # reader PAGE-granular skipping on pushed predicates (event_time
    # bounds, key ranges) — parquet-mr column-index filtering is on by
    # default in Spark; bytes cost is a few hundred per column chunk.
    # Split-block blooms over the key column ride along (operators/
    # parquetbloom): parquet-mr probes them natively for pushed key
    # equalities, the Python Data Source through might_contain.
    from bazof_spark.operators.parquetbloom import write_table_with_blooms

    if row_group_rows:
        return write_table_with_blooms(
            tbl, dest_rel, dest_fs,
            row_group_size=row_group_rows, write_page_index=True,
        )
    return write_table_with_blooms(
        tbl, dest_rel, dest_fs, write_page_index=True
    )


def _column_footer_bounds(md, name: str):
    """(min, max) for one column across all row groups of a parquet
    footer, or (None, None) when any group lacks usable stats."""
    idx = None
    for i in range(md.num_columns):
        if md.schema.column(i).name == name:
            idx = i
            break
    if idx is None or md.num_row_groups == 0:
        return None, None
    lo = hi = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        gmin, gmax = st.min, st.max
        if isinstance(gmin, bytes):
            gmin = gmin.decode("utf-8")
        if isinstance(gmax, bytes):
            gmax = gmax.decode("utf-8")
        lo = gmin if lo is None else min(lo, gmin)
        hi = gmax if hi is None else max(hi, gmax)
    return lo, hi


def file_stats(table_path: str, file_name: str) -> dict:
    """Stats of one committed parquet file as ``Delta``/``Segment``
    keyword fields, from ONE open of the file at COMMIT time (never
    per-read): ``size`` (scan planning splits large files into byte
    ranges without a stat/HEAD per read); the footer bounds
    ``key_min``/``key_max`` and ``ts_min``/``ts_max`` (naive footer
    values are UTC instants, the readers' convention; truncated
    footer values are still valid bounds); and ``key_bloom`` over the
    key column — ranges prune key-CLUSTERED layouts, the bloom prunes
    POINT lookups on scattered ones. The bloom is skipped on the footer
    row count, before any column read, when the file exceeds the inline
    budget (metadata.KeyBloom.MAX_KEYS). Every field is best-effort: a
    missing one disables that pruning, never correctness, and an
    unreadable file never fails a commit."""
    from datetime import timezone

    from bazof_spark.metadata import KeyBloom

    out: dict = {}
    try:
        fs, rel = iofs.split(iofs.join(table_path, file_name))
        f = fs.open_input_file(rel)
    except Exception:
        return out
    with f:
        try:
            pf = pq.ParquetFile(f)
        except Exception:
            return out
        md = pf.metadata
        with contextlib.suppress(Exception):
            size = f.size()
            if isinstance(size, int) and size > 0:
                out["size"] = size
        with contextlib.suppress(Exception):
            kmin, kmax = _column_footer_bounds(md, KEY_COL)
            if isinstance(kmin, str) and isinstance(kmax, str):
                out["key_min"], out["key_max"] = kmin, kmax
        with contextlib.suppress(Exception):
            tmin, tmax = _column_footer_bounds(md, EVENT_TIME_COL)
            if isinstance(tmin, datetime) and isinstance(tmax, datetime):
                if tmin.tzinfo is None:
                    tmin = tmin.replace(tzinfo=timezone.utc)
                if tmax.tzinfo is None:
                    tmax = tmax.replace(tzinfo=timezone.utc)
                out["ts_min"], out["ts_max"] = tmin, tmax
        with contextlib.suppress(Exception):
            if (
                KEY_COL in pf.schema_arrow.names
                and md.num_rows <= 40 * KeyBloom.MAX_KEYS
            ):
                keys: set[str] = set()
                for batch in pf.iter_batches(columns=[KEY_COL]):
                    keys.update(batch.column(0).to_pylist())
                    if len(keys) > KeyBloom.MAX_KEYS:
                        break
                else:
                    bloom = KeyBloom.build(k for k in keys if k is not None)
                    if bloom is not None:
                        out["key_bloom"] = bloom
    return out


def validate_data_file_invariants(df: DataFrame) -> None:
    """Check unique (key, event_time) pairs — the invariant that makes
    the as-of dedup well-defined (SURVEY §7.4)."""
    _reject_duplicate_pairs(
        df.groupBy(KEY_COL, EVENT_TIME_COL).count().filter(F.col("count") > 1).count()
    )


def arrow_duplicate_pairs(tbl: pa.Table) -> int:
    """Number of (key, event_time) pairs occurring more than once in a
    collected batch — the Arrow twin of
    :func:`validate_data_file_invariants` for batches already on the
    driver. Null keys and null event times group like any other value,
    as in Spark's ``groupBy``."""
    import pyarrow.compute as pc

    counts = tbl.group_by([KEY_COL, EVENT_TIME_COL]).aggregate(
        [([], "count_all")]
    )
    return pc.sum(pc.greater(counts["count_all"], 1)).as_py() or 0


def _reject_duplicate_pairs(dupes: int) -> None:
    if dupes:
        raise BazofError(f"{dupes} duplicate (key, event_time) pairs in data file")


def _collect_batch(df: DataFrame, validate: bool) -> pa.Table:
    """Materialize one driver-side file's batch — its ONE Spark job —
    check the unique-pair invariant on it, and return it in the file
    layout order: stable sort by ``event_time`` DESC, nulls last
    (Spark's DESC default)."""
    batch = df.toArrow()
    if validate:
        _reject_duplicate_pairs(arrow_duplicate_pairs(batch))
    return batch.sort_by([(EVENT_TIME_COL, "descending")])


def _event_time_bounds(batch: pa.Table) -> tuple[datetime | None, datetime | None]:
    """(min, max) ``event_time`` of a collected batch; (None, None) when
    it holds no non-null event time."""
    import pyarrow.compute as pc

    mm = pc.min_max(batch[EVENT_TIME_COL]).as_py()
    return mm["min"], mm["max"]


def _delta_with_stats(
    table_path: str,
    file_name: str,
    start: datetime,
    end: datetime,
    tombstone: bool = False,
) -> Delta:
    """Delta entry carrying the file's stats when readable."""
    return Delta(
        file=file_name,
        start=start,
        end=end,
        tombstone=tombstone,
        **file_stats(table_path, file_name),
    )


def _aware_utc(dt: datetime) -> datetime:
    """Normalize to tz-aware UTC with the SAME naive-value semantics as
    :func:`format_rfc3339_ms` (astimezone interprets naive as
    machine-local) — snapshots built in memory must compare and sort
    exactly like their on-disk serialization will re-parse."""
    from datetime import timezone

    return dt.astimezone(timezone.utc)


def _write_distributed_delta_uri(
    ordered: DataFrame,
    table_path: str,
    stem: str,
    num_files: int | None,
) -> list[str]:
    """Distributed multi-file delta on an OBJECT-STORE root: each
    partition writes its own parquet file under a stage prefix via an
    executor-side pyarrow write through iofs (the same seam the Data
    Source writer proves, datasource.py:459-505 — data bytes never
    pass through the driver), then the driver finalizes the bounded
    file list with iofs moves (copy+delete on stores without rename)
    under deterministic ``{stem}_p{i:05d}.parquet`` names. The collect
    is one tiny row per non-empty partition — O(files), not O(rows)."""
    import uuid

    stage = iofs.join(table_path, f"_{stem}_stage-{uuid.uuid4().hex[:12]}")
    iofs.makedirs(stage)
    env = iofs.env_snapshot()

    def _write_partition(batches):
        import os as _os

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        from bazof_spark import iofs as _iofs

        _iofs.apply_env(env)

        got = [b for b in batches if b.num_rows]
        if not got:
            return
        t = _pa.Table.from_batches(got)
        fields = [
            _pa.field(f.name, _pa.timestamp("us", tz="UTC"), f.nullable)
            if _pa.types.is_timestamp(f.type)
            else f
            for f in t.schema
        ]
        t = t.cast(_pa.schema(fields)).sort_by(
            [(EVENT_TIME_COL, "descending")]
        )
        dest = _iofs.join(stage, f"part-{uuid.uuid4().hex}.parquet")
        fs, rel = _iofs.split(dest)
        # same page-index + key-bloom rationale as
        # dataframe_to_parquet_file
        from bazof_spark.operators.parquetbloom import (
            write_table_with_blooms as _wtb,
        )

        _wtb(t, rel, fs, write_page_index=True)
        yield _pa.RecordBatch.from_pydict(
            {"staged": [dest], "rows": [t.num_rows]}
        )

    part = (
        ordered.repartition(num_files, KEY_COL)
        if num_files
        else ordered.repartition(KEY_COL)
    )
    staged = sorted(
        r["staged"]
        for r in part.mapInArrow(
            _write_partition, "staged string, rows long"
        ).collect()
    )
    names = []
    try:
        for i, src in enumerate(staged):
            name = f"{stem}_p{i:05d}.parquet"
            iofs.move(src, iofs.join(table_path, name))
            names.append(name)
    except BaseException:
        for name in names:  # roll staged-but-unreferenced files back
            try:
                iofs.delete(iofs.join(table_path, name))
            except Exception:
                pass
        raise
    finally:
        try:
            iofs.delete_dir(stage)
        except Exception:
            pass
    return names


def _write_distributed_delta(
    ordered: DataFrame,
    table_path: str,
    stem: str,
    num_files: int | None,
) -> list[str]:
    """ONE Spark job writing the batch as many part files, each renamed
    to ``{stem}_p{i:05d}.parquet`` under the table dir. Rows are
    repartitioned by key (a key lives in exactly one file) and sorted
    event_time DESC within files. Returns the final file names.

    Local/file:// roots use the JVM parquet writer + os.replace; any
    other URI (s3:// through ``$BAZOF_S3_ENDPOINT`` or emulation,
    gs://, abfs://) takes the executor-side pyarrow branch — the same
    one-job distribution, finalized with iofs moves."""
    import shutil

    if "://" in table_path and not table_path.startswith("file://"):
        return _write_distributed_delta_uri(
            ordered, table_path, stem, num_files
        )
    local = table_path.removeprefix("file://")
    part = (
        ordered.repartition(num_files, KEY_COL)
        if num_files
        else ordered.repartition(KEY_COL)
    ).sortWithinPartitions(F.col(EVENT_TIME_COL).desc())
    out_dir = os.path.join(local, f"_{stem}_job")
    part.write.mode("overwrite").parquet(out_dir)
    part_files = sorted(
        f
        for f in os.listdir(out_dir)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    names = []
    for i, pf in enumerate(part_files):
        name = f"{stem}_p{i:05d}.parquet"
        os.replace(os.path.join(out_dir, pf), os.path.join(local, name))
        names.append(name)
    shutil.rmtree(out_dir)
    return names


class SegmentBuilder:
    """Builds one segment subtree (JSON shape per test-data/*/s1.json)."""

    def __init__(self, writer: "TableWriter", node: dict):
        self._writer = writer
        self._node = node

    def add_delta(
        self,
        df: DataFrame,
        start: datetime,
        end: datetime,
        name: str | None = None,
        validate: bool = True,
    ) -> "SegmentBuilder":
        deltas = self._node.setdefault("delta", [])
        file_name = name or f"{self._node['id']}_delta{len(deltas) + 1}.parquet"
        self._writer._write_file(df, file_name, validate)
        deltas.append(
            _delta_with_stats(self._writer.path, file_name, start, end).to_json()
        )
        return self

    def add_delta_distributed(
        self,
        df: DataFrame,
        start: datetime,
        end: datetime,
        num_files: int | None = None,
        validate: bool = True,
    ) -> "SegmentBuilder":
        """Write ONE logical delta as MANY parquet files in a single
        distributed Spark job — the 100-TB write path (the single-file
        ``add_delta`` materializes through the driver).

        Each output file becomes its own delta entry with the same
        ``[start, end]`` range. Correctness: rows are repartitioned by
        ``key``, so a key lives in exactly one file and the merge's
        file-precedence order among the sibling entries (stable sort on
        equal ``start``) can never arbitrate between two versions of the
        same key. Files keep the event_time-DESC order invariant via
        ``sortWithinPartitions``."""
        if validate:
            validate_data_file_invariants(df)
        ordered = df.select(
            KEY_COL, EVENT_TIME_COL, *self._writer.schema.column_names()
        )
        deltas = self._node.setdefault("delta", [])
        stem = f"{self._node['id']}_delta{len(deltas) + 1}"
        for file_name in _write_distributed_delta(
            ordered, self._writer.path, stem, num_files
        ):
            deltas.append(
                _delta_with_stats(
                    self._writer.path, file_name, start, end
                ).to_json()
            )
        return self

    def add_child(
        self,
        segment_id: str,
        start: datetime,
        end: datetime | None = None,
        base_df: DataFrame | None = None,
        validate: bool = True,
    ) -> "SegmentBuilder":
        node = self._writer._segment_node(
            segment_id, start, end, base_df, validate
        )
        self._node.setdefault("segments", []).append(node)
        return SegmentBuilder(self._writer, node)


class TableWriter:
    """Author an azof-format table directory (the writer the reference
    roadmaps at README.md:152)."""

    def __init__(self, spark: SparkSession, table_path: str, schema: TableSchema):
        self.spark = spark
        self.path = table_path
        self.schema = schema
        self._segments: list[dict] = []
        iofs.makedirs(table_path)

    def _write_file(self, df: DataFrame, file_name: str, validate: bool) -> None:
        batch = _collect_batch(
            df.select(KEY_COL, EVENT_TIME_COL, *self.schema.column_names()),
            validate,
        )
        _write_arrow_file(batch, iofs.join(self.path, file_name))

    def _segment_node(
        self,
        segment_id: str,
        start: datetime,
        end: datetime | None,
        base_df: DataFrame | None,
        validate: bool,
    ) -> dict:
        """JSON node of one segment, writing its base file if given."""
        if base_df is None:
            return Segment(id=segment_id, start=start, end=end).to_json()
        file_name = f"{segment_id}_base.parquet"
        self._write_file(base_df, file_name, validate)
        return Segment(
            id=segment_id, start=start, end=end, file=file_name,
            **file_stats(self.path, file_name),
        ).to_json()

    def add_segment(
        self,
        segment_id: str,
        start: datetime,
        end: datetime | None = None,
        base_df: DataFrame | None = None,
        validate: bool = True,
    ) -> SegmentBuilder:
        node = self._segment_node(segment_id, start, end, base_df, validate)
        self._segments.append(node)
        return SegmentBuilder(self, node)

    def commit(self, version: str = "1") -> Snapshot:
        """Write ``s{version}.json`` then flip ``version.txt`` — readers
        resolve the pointer first, so the pointer flip is the atomic
        publish step."""
        doc = {"schema": self.schema.to_json(), "segments": self._segments}
        raw = json.dumps(doc, indent=2)
        snapshot = Snapshot.deserialize(raw)  # validates what we wrote
        iofs.write_text(iofs.join(self.path, f"s{version}.json"), raw)
        iofs.replace_text(iofs.join(self.path, VERSION_FILE), version)
        return snapshot


# ---------------------------------------------------------------------------
# Incremental upsert into an EXISTING table (new snapshot version per batch)
# ---------------------------------------------------------------------------


def _conform_to_schema(df: DataFrame, schema) -> DataFrame:
    """Align a producer batch with the DECLARED schema before writing.

    A producer written before a RENAME may still ship the former
    spelling: map it to the declared name (1:1 by the rename chain —
    this is what makes a rename non-breaking for writers, the
    write-side twin of the readers' formers coalesce). A batch carrying
    BOTH spellings — or two former spellings — is ambiguous and errors
    loudly. Nullable columns the batch doesn't carry (e.g. added by
    evolve_table_schema after the producer was written) are null-filled,
    and every column is cast to its DECLARED type: a batch carrying
    e.g. a DECIMAL (SQL literal) or INT where the schema says Float/
    Int64 would otherwise be written verbatim, and the committed
    delta's divergent parquet type then breaks every later
    explicit-schema scan until RESTORE (the UPDATE path had exactly
    this bug). A matching type is a no-op cast Catalyst elides."""
    have = set(df.columns)
    for c in schema.columns:
        if c.name in have:
            if any(f in have for f in c.formers):
                both = [f for f in c.formers if f in have]
                raise BazofError(
                    f"batch carries column {c.name!r} AND its former "
                    f"spelling(s) {both} — ambiguous after the "
                    "rename; ship exactly one"
                )
            continue
        present = [f for f in c.formers if f in have]
        if len(present) > 1:
            # a twice-renamed table can have producers shipping
            # different old spellings, but ONE batch carrying two
            # spellings of the same column is as ambiguous as
            # declared+former above — silently remapping the first
            # would drop the second in the final select (data loss)
            raise BazofError(
                f"batch carries multiple former spellings {present} "
                f"of column {c.name!r} — ambiguous; ship exactly one"
            )
        if present:
            df = df.withColumnRenamed(present[0], c.name)
            have = (have - {present[0]}) | {c.name}
    fills = [
        F.lit(None).cast(c.data_type.to_spark()).alias(c.name)
        for c in schema.columns
        if c.name not in have and c.nullable
    ]
    if fills:
        df = df.select("*", *fills)
    return df.select(
        F.col(KEY_COL).cast("string").alias(KEY_COL),
        F.col(EVENT_TIME_COL).cast("timestamp").alias(EVENT_TIME_COL),
        *[
            F.col(c.name).cast(c.data_type.to_spark()).alias(c.name)
            for c in schema.columns
        ],
    )


def append_delta(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    start: datetime | None = None,
    end: datetime | None = None,
    segment_id: str | None = None,
    create_segment: bool = False,
    distributed: bool = False,
    num_files: int | None = None,
    validate: bool = True,
    tombstone: bool = False,
    expected_version: str | None = None,
) -> Snapshot:
    """Upsert one batch into an existing azof table: write a delta file
    (or, ``distributed=True``, one Spark write job producing many files),
    append it to an open top-level segment, publish ``s{v+1}.json`` and
    flip ``version.txt``. Readers resolve the pointer first, so the flip
    is the atomic commit — in-flight scans keep reading ``s{v}.json``
    (snapshot isolation, same discipline as :meth:`TableWriter.commit`).

    The reference roadmaps exactly this writer (README.md:152) and its
    late-data story (README.md:36): a batch whose event times lie in the
    past simply becomes a delta with an older ``start``. Precedence
    follows the format's pruning order (crates/azof/src/metadata.rs:47-73
    — deltas sort by ``start`` DESC): an upsert with *newer* event times
    shadows older deltas; a late batch slots beneath any delta whose
    ``start`` is newer, which is the format's defined semantics (file
    precedence beats timestamp, SURVEY §4.2).

    ``start``/``end`` default to the batch's min/max ``event_time``.
    The driver-side path (``distributed=False``) is ONE Spark job: the
    batch is collected once with ``toArrow()`` and the invariant check,
    the bounds and the event_time-DESC sort all run on that Arrow
    table. Target segment: ``segment_id`` if
    given, else the LAST open top-level segment; ``create_segment=True``
    opens a fresh one when none exists.

    Concurrency: the commit is the optimistic transaction of
    :func:`_commit`. A commit that lands between this one's read and
    its publish raises CommitConflictError (:func:`upsert_with_retry`
    re-places the already-written files instead), and
    ``expected_version`` pins the version the caller derived ``df``
    from (e.g. Lakehouse.update's read-modify-write): a moved pointer
    raises before anything is written, so rows computed without seeing
    a newer commit never shadow it.

    ``tombstone=True`` commits the batch as a DELETE marker (our
    Delta-Lake-style extension; see :func:`delete_keys` and
    metadata.Delta.tombstone): only ``(key, event_time)`` are written —
    the scan null-fills value columns via its explicit-schema read, the
    same mechanism schema evolution uses — and the delta node carries
    the tombstone flag, so a tombstone row winning the merge hides its
    key instead of surfacing. Precedence/eligibility are the ordinary
    delta rules: as-of instants before the delete still see the old
    row, and a later upsert resurrects the key. An empty driver-side
    tombstone batch is a version no-op (returns the current snapshot).
    """
    return _append_delta(**locals())  # every parameter, passed through


def _append_delta(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    start: datetime | None = None,
    end: datetime | None = None,
    segment_id: str | None = None,
    create_segment: bool = False,
    distributed: bool = False,
    num_files: int | None = None,
    validate: bool = True,
    tombstone: bool = False,
    expected_version: str | None = None,
    retries: int = 0,
) -> Snapshot:
    """:func:`append_delta`, re-placing its files on up to ``retries``
    commit conflicts."""

    def write(snapshot: Snapshot, next_version: str):
        if tombstone:
            # a tombstone file carries ONLY the merge keys; the scan's
            # explicit-schema read null-fills the value columns
            ordered = df.select(KEY_COL, EVENT_TIME_COL)
        else:
            ordered = _conform_to_schema(df, snapshot.schema)
        # one materialization for the up-to-three consumers of a
        # distributed batch (invariant check, min/max bounds, the write
        # itself) — without it each re-runs the batch's full lineage
        multi_pass = distributed and (validate or start is None or end is None)
        if multi_pass:
            ordered = ordered.persist()
        try:
            if distributed:
                if validate:
                    validate_data_file_invariants(ordered)
            else:
                # the batch comes to the driver for the write anyway:
                # collect it once and run the check, the bounds and the
                # sort on that table
                batch = _collect_batch(ordered, validate)
                if tombstone and batch.num_rows == 0:
                    # same no-op contract as delete_keys: an empty
                    # tombstone must not flip a delete-free table to
                    # delete-capable
                    return None
            lo, hi = start, end
            if lo is None or hi is None:
                b_lo, b_hi = (
                    ordered.select(
                        F.min(EVENT_TIME_COL), F.max(EVENT_TIME_COL)
                    ).first()
                    if distributed
                    else _event_time_bounds(batch)
                )
                if b_lo is None:
                    raise BazofError("cannot upsert an empty batch")
                lo, hi = lo or b_lo, hi or b_hi
            # aware-UTC like their serialized form, so the in-memory
            # snapshot sorts/compares exactly as a re-read of s{N}.json
            lo, hi = _aware_utc(lo), _aware_utc(hi)
            (stem,) = _delta_stems(
                snapshot, next_version, lo, segment_id, create_segment
            )
            if distributed:
                # the 100-TB path: repartition by key (a key lives in
                # exactly one file, so stable precedence among
                # equal-start siblings can never arbitrate between two
                # versions of one key), event_time-DESC within each file
                names = _write_distributed_delta(
                    ordered, table_path, stem, num_files
                )
            else:
                names = [f"{stem}.parquet"]
                _write_arrow_file(batch, iofs.join(table_path, names[0]))
        finally:
            if multi_pass:
                ordered.unpersist()
        return lo, [
            _delta_with_stats(table_path, n, lo, hi, tombstone=tombstone)
            for n in names
        ]

    def place(snapshot: Snapshot, next_version: str, written):
        if written is None:
            return None
        lo, deltas = written
        return _place_deltas(
            snapshot, next_version, lo, [(deltas, lo)],
            segment_id, create_segment,
        )

    return _commit(
        table_path, place, write,
        expected_version=expected_version, retries=retries,
    )


def _insert_deltas(
    existing: tuple[Delta, ...], new: list[Delta], start: datetime
) -> tuple[Delta, ...]:
    """Place a commit's delta entries so the reader's stable
    sort-by-start-DESC gives them precedence over every delta whose
    start is ≤ theirs — i.e. A LATER UPSERT SHADOWS EARLIER DATA even
    when the batches share a start (a replayed or re-read batch has
    exactly the old batch's start). Appending instead would let the
    OLD delta win such ties (stable sort keeps array order), silently
    dropping the upsert. Pure writer-side placement: reader semantics
    (metadata.rs:47-73 port) are untouched, and entries within one
    commit keep their file order. Starts compare through
    :func:`_aware_utc`, so the order here always agrees with the one the
    READER later sees on disk."""
    idx = len(existing)
    for i, d in enumerate(existing):
        if _aware_utc(d.start) <= _aware_utc(start):
            idx = i
            break
    return existing[:idx] + tuple(new) + existing[idx:]


def _pick_target_segment(
    segs: list[Segment],
    segment_id: str | None,
    create_segment: bool,
    start: datetime,
    next_version: str,
) -> int:
    """Index of the top-level segment an upsert lands in: ``segment_id``
    if given, else the last OPEN segment; with ``create_segment`` a new
    open segment ``u{next_version}`` is appended when none qualifies.
    Mutates ``segs`` only in that create case."""
    idx: int | None = None
    if segment_id is not None:
        for i, s in enumerate(segs):
            if s.id == segment_id:
                idx = i
                break
        if idx is None:
            raise BazofError(f"no top-level segment with id {segment_id!r}")
    else:
        for i in range(len(segs) - 1, -1, -1):
            if segs[i].end is None:
                idx = i
                break
    if idx is None:
        if not create_segment:
            raise BazofError(
                "no open top-level segment to upsert into "
                "(pass create_segment=True to open one)"
            )
        segs.append(Segment(id=f"u{next_version}", start=start))
        idx = len(segs) - 1
    return idx


def commit_delta_files(
    table_path: str,
    staged_paths: list[str],
    start: datetime,
    end: datetime,
    segment_id: str | None = None,
    create_segment: bool = True,
    retries: int = 3,
) -> Snapshot:
    """Commit ALREADY-WRITTEN parquet files (staged by a distributed
    write, e.g. the bazof Data Source writer) into an existing table as
    ONE logical upsert: each staged file is moved to its final name and
    appended as a Delta entry, then the new snapshot is published
    optimistically (:func:`_commit`, as for :func:`append_delta`).

    The files are moved exactly once, under per-commit token names
    (``{seg}_delta{N}_{token}_p{i}.parquet``); a commit conflict
    re-reads the table and re-places the SAME moved files, up to
    ``retries`` times. On final failure the moved files are left
    unreferenced — ``vacuum_table`` debris, never visible data.

    All sibling files carry the SAME ``[start, end]`` range — they are
    one batch, so none may shadow another; the caller guarantees a key
    lives in at most one staged file (repartition-by-key discipline,
    same as ``add_delta_distributed``)."""
    return _commit_files(
        table_path, staged_paths, start, end, segment_id, create_segment,
        retries,
    )


def _commit_files(
    table_path: str,
    staged_paths: list[str],
    start: datetime,
    end: datetime,
    segment_id: str | None = None,
    create_segment: bool = True,
    retries: int = 3,
    add: tuple | list = (),
) -> Snapshot:
    """:func:`commit_delta_files` that also adds the nullable columns
    ``add`` (the Data Source writer's mergeSchema) in the SAME snapshot
    as the files written with them; a column already declared
    identically is not added twice."""
    if not staged_paths:
        raise BazofError("cannot commit an empty file set")
    start, end = _aware_utc(start), _aware_utc(end)

    def write(snapshot: Snapshot, next_version: str) -> list[Delta]:
        (stem,) = _delta_stems(
            snapshot, next_version, start, segment_id, create_segment
        )
        return _move_staged(table_path, staged_paths, stem, start, end)

    def place(snapshot: Snapshot, next_version: str, deltas: list[Delta]):
        schema = snapshot.schema
        new_columns = [c for c in add if c not in schema.columns]
        if new_columns:
            from bazof_spark.maintenance import _evolved_schema

            schema = _evolved_schema(schema, add=new_columns)
        return _place_deltas(
            snapshot, next_version, start, [(deltas, start)],
            segment_id, create_segment, schema,
        )

    return _commit(table_path, place, write, retries=retries)


def _move_staged(
    table_path: str,
    staged_paths: list[str],
    stem: str,
    start: datetime,
    end: datetime,
) -> list[Delta]:
    """Move staged files to ``{stem}_p{i:05d}.parquet`` in the table dir
    and read each file's stats once, after the move."""
    names = []
    for i, staged in enumerate(sorted(staged_paths)):
        name = f"{stem}_p{i:05d}.parquet"
        iofs.move(staged, iofs.join(table_path, name))
        names.append(name)
    return [_delta_with_stats(table_path, n, start, end) for n in names]


def create_table_version_from_files(
    table_path: str,
    schema: TableSchema,
    staged_paths: list[str],
    start: datetime,
    end: datetime,
) -> Snapshot:
    """Publish a snapshot whose content is EXACTLY the staged files —
    the ``mode("overwrite")`` path of the bazof Data Source writer.
    Creates the table (version ``1``) when absent; on an existing table
    publishes above every numbered snapshot, so prior versions remain
    pinnable via ``.option("version", …)`` time travel while the
    pointer now resolves to the replacement state.

    Multi-writer safety is :func:`commit_delta_files`': the files are
    moved once under per-commit token names, and the publish goes
    through :func:`_commit` — a creation included, which re-checks
    under the commit guard that the table is still absent."""
    if not staged_paths:
        raise BazofError("cannot publish an empty file set")
    iofs.makedirs(table_path)
    start, end = _aware_utc(start), _aware_utc(end)

    def write(snapshot: Snapshot | None, next_version: str) -> list[Delta]:
        stem = f"w{next_version}_delta1_{uuid.uuid4().hex[:8]}"
        return _move_staged(table_path, staged_paths, stem, start, end)

    def place(snapshot, next_version: str, deltas: list[Delta]) -> Snapshot:
        return Snapshot(
            segments=(
                Segment(id=f"w{next_version}", start=start, delta=tuple(deltas)),
            ),
            schema=schema,
        )

    return _commit(table_path, place, write, retries=3, create=True)


def upsert_with_retry(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    retries: int = 3,
    **kwargs,
):
    """append_delta with optimistic-concurrency retries: the batch is
    written once, and on CommitConflictError the table is re-read and
    the same files re-placed in the fresh snapshot, up to ``retries``
    times — the commit loop every optimistic lakehouse writer runs."""
    return _append_delta(spark, table_path, df, retries=retries, **kwargs)


def delete_keys(
    spark: SparkSession,
    table_path: str,
    keys,
    at: datetime | None = None,
    **kwargs,
) -> Snapshot:
    """Delete ``keys`` from the table as of ``at`` (default: now, UTC) —
    the Delta-Lake-style DELETE over the format's merge semantics: one
    tombstone delta whose rows are ``(key, at)``; at any as-of ≥ ``at``
    the tombstone wins the merge and the key disappears from scans, at
    instants before it the old row is still visible (the delete is
    itself time-travel-consistent), and a LATER upsert resurrects the
    key (file precedence, exactly like an ordinary newer version).

    ``keys`` is an iterable of key strings (driver-side, bounded — a
    point delete) or a DataFrame with a ``key`` column (the distributed
    path: DELETE WHERE <predicate> at corpus scale never collects the
    matching keys). Extra kwargs pass through to :func:`append_delta`
    (``segment_id``, ``create_segment``, ``distributed``...)."""
    from datetime import timezone

    if at is None:
        at = datetime.now(timezone.utc)
    at = _aware_utc(at)
    if isinstance(keys, DataFrame):
        df = keys.select(
            F.col(KEY_COL).cast("string").alias(KEY_COL),
            F.lit(at).alias(EVENT_TIME_COL),
        ).dropDuplicates([KEY_COL])
        # A predicate that matches nothing is a no-op, NOT an empty
        # tombstone commit: publishing one would permanently flip a
        # delete-free table to delete-capable (raw/stream schema gains
        # _tombstone, running streams fail fast on the delta) without
        # removing a single row. The driver-side append_delta sees the
        # emptiness on its collected batch; the distributed path never
        # collects, so it probes.
        if kwargs.get("distributed") and df.isEmpty():
            return Table(table_path, table_path).get_current_snapshot()
    else:
        ks = sorted({str(k) for k in keys})
        if not ks:
            # same no-op contract as the empty-DataFrame path above: an
            # empty request must not flip a delete-free table to
            # delete-capable (schema gains _tombstone) without removing
            # a single row
            return Table(table_path, table_path).get_current_snapshot()
        df = spark.createDataFrame(
            [(k, at) for k in ks], f"{KEY_COL} string, {EVENT_TIME_COL} timestamp"
        )
    return append_delta(
        spark, table_path, df, start=at, end=at, tombstone=True, **kwargs
    )


def merge_apply(
    spark: SparkSession,
    table_path: str,
    upsert_df: DataFrame | None = None,
    delete_keys_df: DataFrame | None = None,
    at: datetime | None = None,
    create_segment: bool = True,
    expected_version: str | None = None,
    validate: bool = True,
) -> Snapshot:
    """Apply a multi-clause MERGE outcome — upsert rows AND key
    tombstones — as ONE snapshot publish: the data delta and the
    tombstone delta land in the same ``s{v+1}.json``, so the statement
    is atomic (a reader either sees none of the MERGE or all of it;
    chaining append_delta + delete_keys would expose the half-applied
    intermediate version and bump twice). Delta Lake's multi-clause
    MERGE commits exactly one version for the same reason.

    The caller guarantees the two key sets are DISJOINT (first-match-
    wins clause compilation does this by construction) — within one
    version a tombstone and a data row for the same key would tie on
    precedence. Empty inputs degrade exactly like the single-form
    writers: no upsert rows and no delete keys is a version no-op
    (returns the current snapshot); an empty delete set never flips a
    delete-free table to delete-capable."""
    from datetime import timezone

    if at is None:
        at = datetime.now(timezone.utc)
    at = _aware_utc(at)

    def write(snapshot: Snapshot, next_version: str):
        # each side is collected once (toArrow) and checked, bounded,
        # sorted or deduplicated on the driver — a Spark-side
        # dropDuplicates would add a shuffle-stage job
        batch = None
        if upsert_df is not None:
            batch = _collect_batch(
                _conform_to_schema(upsert_df, snapshot.schema), validate
            )
            if batch.num_rows == 0:
                batch = None
        tomb = None
        if delete_keys_df is not None:
            collected = delete_keys_df.select(
                F.col(KEY_COL).cast("string").alias(KEY_COL)
            ).toArrow()
            keys = collected[KEY_COL].unique()
            if len(keys):  # else: same no-op contract as delete_keys
                ts_type = pa.timestamp("us", tz="UTC")
                tomb = pa.table(
                    [keys, pa.repeat(pa.scalar(at, ts_type), len(keys))],
                    schema=pa.schema([
                        collected.schema.field(KEY_COL),
                        pa.field(EVENT_TIME_COL, ts_type, nullable=False),
                    ]),
                )
        if batch is None and tomb is None:
            return None
        if batch is not None:
            lo, hi = _event_time_bounds(batch)
            u_start, u_end = _aware_utc(lo), _aware_utc(hi)
        else:
            u_start = u_end = at
        start = min(u_start, at)
        stems = iter(_delta_stems(
            snapshot, next_version, start, None, create_segment, count=2
        ))
        inserts = []
        if batch is not None:
            name = f"{next(stems)}.parquet"
            _write_arrow_file(batch, iofs.join(table_path, name))
            inserts.append(
                ([_delta_with_stats(table_path, name, u_start, u_end)], u_start)
            )
        if tomb is not None:
            name = f"{next(stems)}.parquet"
            # every row carries ``at``: already in event_time-DESC order
            _write_arrow_file(tomb, iofs.join(table_path, name))
            inserts.append(
                ([_delta_with_stats(table_path, name, at, at, tombstone=True)], at)
            )
        return start, inserts

    def place(snapshot: Snapshot, next_version: str, written):
        if written is None:
            return None
        start, inserts = written
        return _place_deltas(
            snapshot, next_version, start, inserts,
            create_segment=create_segment,
        )

    return _commit(table_path, place, write, expected_version=expected_version)


def _delta_stems(
    snapshot: Snapshot,
    next_version: str,
    start: datetime,
    segment_id: str | None,
    create_segment: bool,
    count: int = 1,
) -> list[str]:
    """File stems for ``count`` new deltas of one commit, the one naming
    rule of every commit: ``{seg}_delta{N}_{token}`` — the target
    segment (:func:`_pick_target_segment`), the next delta sequence
    numbers in it and a per-commit random token. Two writers that
    derive the same N produce DIFFERENT names, so they never clobber
    each other's bytes; they race only on the version pointer, which
    the commit guard arbitrates."""
    segs = list(snapshot.segments)
    target = segs[
        _pick_target_segment(
            segs, segment_id, create_segment, start, next_version
        )
    ]
    token = uuid.uuid4().hex[:8]
    n = len(target.delta)
    return [f"{target.id}_delta{n + i}_{token}" for i in range(1, count + 1)]


def _place_deltas(
    snapshot: Snapshot,
    next_version: str,
    start: datetime,
    inserts: list,
    segment_id: str | None = None,
    create_segment: bool = False,
    schema: TableSchema | None = None,
) -> Snapshot:
    """``snapshot`` with each ``(deltas, delta_start)`` of ``inserts``
    placed in the commit's target top-level segment (opened at
    ``start`` when ``create_segment`` finds none), under ``schema`` or
    the snapshot's own."""
    segs = list(snapshot.segments)
    idx = _pick_target_segment(
        segs, segment_id, create_segment, start, next_version
    )
    delta = tuple(segs[idx].delta)
    for new, delta_start in inserts:
        delta = _insert_deltas(delta, new, delta_start)
    segs[idx] = dataclasses.replace(segs[idx], delta=delta)
    return Snapshot(segments=tuple(segs), schema=schema or snapshot.schema)


def _commit(
    table_path: str,
    place,
    write=None,
    expected_version: str | None = None,
    retries: int = 0,
    create: bool = False,
) -> Snapshot:
    """The one commit transaction every snapshot publisher runs (Delta
    Lake routes every writer through ``OptimisticTransaction.commit``
    for the same reason):

    1. read the version pointer — absent means the table is being
       created, allowed only with ``create``;
    2. check the ``expected_version`` pin before anything is written;
    3. refuse a non-numeric pointer;
    4. derive the next version above every numbered snapshot on disk,
       so one abandoned by a pointer rollback is never overwritten;
    5. on the first attempt only, ``write(snapshot, next_version)``
       writes or moves the data files and returns what placement needs
       (``snapshot`` is None on a create);
    6. ``place(snapshot, next_version, written)`` returns the new
       Snapshot, or None for no change (the current one is returned);
    7. publish through :func:`_publish_snapshot`.

    A CommitConflictError from the publish re-reads the table and
    re-runs only the placement, up to ``retries`` times, after a short
    random pause that lets a lock holder finish. A retry whose placed
    schema differs from the first attempt's raises CommitConflictError
    instead: the files were written under the old schema (a concurrent
    Int → Float widen would otherwise leave int64 files under a Float
    column)."""
    import random
    import time

    from bazof_spark.errors import CommitConflictError
    from bazof_spark.maintenance import _numeric_versions

    table = Table(path=table_path, name=os.path.basename(table_path.rstrip("/")))
    written = schema = None
    for attempt in range(retries + 1):
        version = _read_pointer(table, create)
        if expected_version is not None and version != expected_version:
            raise CommitConflictError(
                f"table moved {expected_version!r} → {version!r} since the "
                "commit was derived; re-read and re-derive before retrying"
            )
        try:
            current = 0 if version is None else int(version)
        except ValueError as exc:  # non-numeric pointer: don't guess
            raise BazofError(
                f"cannot bump non-numeric snapshot version {version!r}"
            ) from exc
        next_version = str(max([current, *_numeric_versions(table_path)]) + 1)
        snapshot = None if version is None else table.get_snapshot(version)
        if attempt == 0 and write is not None:
            written = write(snapshot, next_version)
        new = place(snapshot, next_version, written)
        if new is None:
            return snapshot
        if attempt == 0:
            schema = new.schema
        elif new.schema != schema:
            raise CommitConflictError(
                "the table schema changed since this commit's files were "
                "written; re-read and re-derive before retrying"
            )
        try:
            _publish_snapshot(table_path, version, next_version, new)
            return new
        except CommitConflictError:
            if attempt == retries:
                raise
            time.sleep(random.uniform(0, 0.05))
    raise AssertionError("unreachable")


def _read_pointer(table: Table, create: bool) -> str | None:
    """The version pointer; None when ``create`` and the table has none."""
    if create and not iofs.exists(iofs.join(table.path, VERSION_FILE)):
        return None
    return table.current_version()


@contextlib.contextmanager
def _commit_lock(table_path: str):
    """Mutual exclusion for the check→flip publish window, resolved
    through the pluggable guard seam (:mod:`bazof_spark.commitguard`):
    local / ``file://`` tables get the token-verified O_EXCL file lock
    (a real CAS — two simultaneous publishers can no longer both pass
    the pointer check; the loser gets CommitConflictError and the
    retry loop re-derives), emulated object-store schemes lock on
    their local mirror (a conditional-put stand-in), and unregistered
    object-store URIs publish unguarded — the documented last-write-
    wins residual until a real conditional-put/locking service is
    registered via ``commitguard.register_commit_guard`` (the gap
    Delta closes with a LogStore). Yields the HeldGuard so the caller
    can ``verify()`` at the commit point."""
    from bazof_spark.commitguard import guard_for

    held = guard_for(table_path).acquire()
    try:
        yield held
    finally:
        held.release()


def _publish_snapshot(
    table_path: str,
    expected_version: str | None,
    next_version: str,
    snapshot: Snapshot,
) -> None:
    """Optimistic-concurrency publish: under the commit guard, re-check
    the version pointer still reads ``expected_version`` (the snapshot
    this commit was derived from; None: the table is being created and
    must still have no pointer), then write the snapshot and flip the
    pointer; a moved pointer means a concurrent writer won — raise
    CommitConflictError so the caller re-reads and retries instead of
    silently dropping the other commit's deltas from its snapshot copy.
    The snapshot is STAGED under an attempt-unique name and only
    finalized to ``s{N}.json`` after ``held.verify()`` passes, with a
    second ``verify()`` immediately before the pointer flip. Without
    the staging, a writer that stalled past the stale window (lock
    broken, successor published the SAME next_version and flipped the
    pointer) would wake and overwrite the successor's ``s{N}.json``
    with its own content before its verify() could abort — the pointer
    would then reference the aborted writer's snapshot, silently losing
    the successor's commit. Staging confines the pre-verify write to a
    name no reader or pointer ever references; only the verified winner
    touches ``s{N}.json``. A sub-millisecond verify→finalize /
    verify→flip window remains by construction — FULL closure needs a
    CAS/conditional-put guard (commitguard.register_commit_guard); on
    unguarded object stores the pointer re-check alone still catches
    every non-simultaneous race. Abandoned delta files and staged
    snapshots stay unreferenced until vacuum_table."""
    import uuid as _uuid

    from bazof_spark.errors import CommitConflictError

    with _commit_lock(table_path) as held:
        latest = _read_pointer(
            Table(path=table_path, name=os.path.basename(table_path.rstrip("/"))),
            create=expected_version is None,
        )
        if latest != expected_version:
            raise CommitConflictError(
                f"version pointer moved {expected_version!r} → {latest!r} "
                "while this commit ran; re-read the table and retry"
            )
        final = iofs.join(table_path, f"s{next_version}.json")
        staged = f"{final}.stage-{_uuid.uuid4().hex}"
        try:
            iofs.write_text(staged, snapshot.serialize())
            # finalize gate: a holder whose lock was broken while it
            # serialized must not touch the real s{N}.json at all
            held.verify()
            iofs.move(staged, final)
        except BaseException:
            # best-effort debris cleanup while re-raising the real error
            # (vacuum collects any stage file this leaves behind)
            with contextlib.suppress(Exception):
                iofs.delete(staged)
            raise
        # the flip is the commit point: confirm the guard is still ours
        # (a >stale-window stall may have had the lock broken under us)
        held.verify()
        # atomic flip: concurrent readers must never observe a torn/empty
        # version pointer (replace_text = temp+rename locally, single PUT
        # on object stores)
        iofs.replace_text(iofs.join(table_path, VERSION_FILE), next_version)
