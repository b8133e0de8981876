"""`spark.read.format("bazof")` — catalog-style integration via Spark 4's
Python Data Source API, and the one driver-side scan planner.

The reference exposes its tables to a SQL engine through a DataFusion
``TableProvider`` (crates/azof-datafusion/src/lib.rs:60-133); the
primary analog here is the temp-view mechanism in ``Lakehouse.sql``
(native parquet scans + whole-stage codegen — the fast path). This
module adds the *reader-API* analog on top, so bazof tables also work
through Spark's standard source plumbing with zero ``Lakehouse``
handle:

    spark.dataSource.register(BazofDataSource)
    raw = (spark.read.format("bazof")
                .option("path", "/lake/root").option("table", "financials")
                .option("asOf", "2019-01-17T00:00:00.000Z").load())

What the source can and cannot do, honestly:

- Snapshot resolution, segment-tree temporal FILE PRUNING, zone-map
  and bloom pruning by pushed key predicates and the event-time row
  filter all run here (pruning driver-side on metadata, the filter
  inside the Arrow reader) — the scan never touches files or rows
  beyond the as-of bound. :func:`plan_scan` is that planning, and
  ``Lakehouse.scan`` runs the same function: both surfaces read one
  :class:`ScanPlan`, with the pushed ``(op, column, value)`` triples
  as the only encoding of the key predicate.
- The latest-per-key MERGE is a global shuffle, which no data source
  can perform; ``load()`` therefore returns the pruned *versioned*
  rows carrying ``(_rank, _row_idx)``, and :func:`read_table` applies
  the merge tail of ``Lakehouse.scan``
  (``lakehouse._dedup_latest_per_key``). This split is exactly how
  Delta's CDF/log readers layer over their file source.
- Rows move worker→JVM as Arrow batches (pyarrow scan). That is an
  extra hop vs the native parquet reader, so this surface is for
  catalog-style compatibility; ``Lakehouse.scan``/``sql`` remain the
  performance path. On a cluster, ship the package to workers
  (``--py-files``/conda env) like any Python source.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from bazof_spark.asof import AsOf, Current, parse_rfc3339
from bazof_spark.table import Table


def _apply_env_option(options: dict) -> None:
    """Apply the driver's BAZOF_* env forwarded via the ``bazofEnv``
    option. Python Data Source planning (schema()/partitions()) runs in
    a SEPARATE Python worker process, not the driver — an endpoint or
    emulation variable set after session start never reaches it through
    the process environment, so the driver JSON-encodes its snapshot
    into the options (see iofs.env_snapshot)."""
    raw = options.get("bazofenv") or options.get("bazofEnv")
    if raw:
        import json

        from bazof_spark import iofs

        iofs.apply_env(json.loads(raw))


def _resolve(options: dict):
    _apply_env_option(options)
    root = options.get("path")
    name = options.get("table")
    if not root or not name:
        raise ValueError("bazof source needs .option('path', …) and .option('table', …)")
    from bazof_spark import iofs

    table = Table(path=iofs.join(root, name), name=name)
    version = options.get("version")
    snapshot = (
        table.get_snapshot(str(version))
        if version is not None
        else table.get_current_snapshot()
    )
    as_of_raw = options.get("asof") or options.get("asOf")
    as_of = AsOf.event_time(parse_rfc3339(as_of_raw)) if as_of_raw else Current
    return table, snapshot, as_of


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        rank: int,
        tombstone: bool = False,
        start: int = 0,
        length: int | None = None,
    ):
        self.path = path
        self.rank = rank
        self.tombstone = tombstone
        # byte range of the file this task covers (length None = whole
        # file): the reader takes exactly the row groups whose first
        # page offset lands in [start, start+length) — the same
        # disjoint-cover assignment Spark's FilePartition uses, so a
        # big file fans out over the cluster instead of one task
        # (reference profile: single partition per file,
        # crates/azof-datafusion/src/lib.rs:199-204 — this exceeds it)
        self.start = start
        self.length = length


def _file_batches(path: str, rank: int, columns, field_order, arrow_schema,
                  tombstone: bool = False, formers=None,
                  start: int = 0, length: int | None = None,
                  pushed=None, prune_stats=None):
    """Shared batch assembly for the batch and stream readers: read the
    parquet file, attach (_rank, _row_idx) provenance, null-fill
    columns the file predates (schema evolution adds columns as
    metadata only — pyarrow's iter_batches silently DROPS requested
    columns a file lacks rather than erroring, so the fill must happen
    here, mirroring the native scan's explicit-StructType behavior),
    and cast to the exact declared Arrow types.

    ``formers`` (RENAME COLUMN support): {declared name: (former
    spellings,)} — a file written before a rename stores a former name;
    the per-file footer tells us which spelling this file carries, so
    the read selects it and renames back to the declared name (the
    Arrow twin of the native scan's coalesce).

    ``start``/``length`` (row-group splitting): when a byte range is
    given, only the row groups whose first page offset falls inside it
    are read, and ``_row_idx`` starts at the file-global row position
    of the first such group — so the intra-file (key, event_time)
    tie-break stays exact even when one file is read by many tasks.

    ``pushed`` (page-index pruning): the reader's accepted predicates.
    When the file carries page indexes (every writer-committed file
    does), each predicate column's ColumnIndex min/max prunes at PAGE
    granularity: row groups where NO page can match are skipped
    entirely (their bytes are never fetched — the object-store win),
    and partially-matching groups are sliced to the union of
    may-match page row spans before any row crosses into the JVM.
    Superset-safe by construction — the caller still evaluates the
    exact predicates row-wise — and absent/unparseable indexes
    (reference-authored files) degrade to no pruning. ``prune_stats``
    (a dict, test hook) receives pages_total / pages_pruned /
    groups_skipped / rows_pruned counters."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    from bazof_spark import iofs

    formers = formers or {}
    # resolve through iofs so object-store URIs follow the same
    # endpoint/emulation routing as every other byte in the repo
    # (pq.ParquetFile on a raw s3:// string would bypass
    # $BAZOF_S3_ENDPOINT and scheme emulation entirely)
    filesystem, rel = iofs.split(path)
    # Span-coalescing data reads (opt round 2, guide §6): on remote
    # filesystems the arrow reader's pre-buffer mode batches the
    # selected column-chunk byte ranges per row group and coalesces
    # nearby ranges into single ranged GETs (measured against the
    # repo's S3 protocol server: 49 -> 2 GETs full-file, 25 -> 18 with
    # column pruning gaps) instead of one read per page run. Local
    # files keep the default streaming reads (no copy into a range
    # cache); BAZOF_PARQUET_PRE_BUFFER=1/0 forces either way.
    _pb_env = os.environ.get("BAZOF_PARQUET_PRE_BUFFER", "")
    pre_buffer = (
        _pb_env == "1"
        if _pb_env in ("0", "1")
        else not isinstance(filesystem, pafs.LocalFileSystem)
    )
    # one handle for the footer, the page-index prune and the data
    # reads (each open of an object-store file is a HEAD request)
    fin = filesystem.open_input_file(rel)
    f = pq.ParquetFile(fin, pre_buffer=pre_buffer)
    md = f.metadata
    # (group index, file-global first row) for every group this byte
    # range covers. length None with start > 0 = open-ended tail range
    # (to EOF): split plans from commit-time-recorded sizes must
    # degrade to a bigger last task — never to dropped row groups — if
    # the recorded size ever understates the file
    sel: list[tuple[int, int]] = []
    rows_before = 0
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if length is None and not start:
            sel.append((i, rows_before))
        else:
            off = _row_group_offset(rg)
            if start <= off and (length is None or off < start + length):
                sel.append((i, rows_before))
        rows_before += rg.num_rows
    if not sel:
        return  # every group's start offset lands in another range
    present = set(f.schema_arrow.names)
    # per-file source spelling for each requested column
    src: dict[str, str] = {}
    for c in columns:
        if c in present:
            src[c] = c
        else:
            for alt in formers.get(c, ()):
                if alt in present:
                    src[c] = alt
                    break
    rev = {v: k for k, v in src.items()}
    want = [src[c] for c in columns if c in src]
    spans_by_group = (
        _page_prune_spans(
            filesystem, rel, pushed, src, [g for g, _ in sel], prune_stats,
            fin=fin,
        )
        if pushed
        else None
    )
    if spans_by_group is not None and all(
        spans_by_group.get(g) == [(0, md.row_group(g).num_rows)]
        for g, _ in sel
    ):
        # nothing pruned: keep the single streaming pass (per-group
        # iteration costs one reader setup per group for zero benefit)
        spans_by_group = None

    def emit(t: pa.Table, row_idx: int):
        n = t.num_rows
        if any(k != v for k, v in src.items()):
            t = t.rename_columns([rev.get(nm, nm) for nm in t.column_names])
        for c in columns:
            if c not in src:
                t = t.append_column(
                    c, pa.nulls(n, type=arrow_schema.field(c).type)
                )
        t = t.append_column(
            "_rank", pa.array([rank] * n, type=pa.int64())
        ).append_column(
            "_row_idx", pa.array(range(row_idx, row_idx + n), type=pa.int64())
        )
        if "_tombstone" in arrow_schema.names:
            # delete-marker provenance (tables with tombstone deltas
            # only): constant per file, like _rank
            t = t.append_column(
                "_tombstone", pa.array([tombstone] * n, type=pa.bool_())
            )
        return t.select(field_order).cast(arrow_schema)

    if spans_by_group is None:
        # no page index / nothing pushed: one streaming pass over the
        # selected (contiguous) groups, exactly the pre-prune behavior
        row_idx = sel[0][1]
        groups = [g for g, _ in sel] if (length is not None or start) else None
        for batch in f.iter_batches(columns=want, row_groups=groups):
            yield emit(pa.Table.from_batches([batch]), row_idx)
            row_idx += batch.num_rows
        return
    for gi, g0 in sel:
        spans = spans_by_group.get(gi)
        if spans is None:
            spans = [(0, md.row_group(gi).num_rows)]
        if not spans:
            continue  # no page can match: the group's bytes never move
        pos = 0
        for batch in f.iter_batches(columns=want, row_groups=[gi]):
            b1 = pos + batch.num_rows
            t = None
            for s0, sn in spans:
                lo, hi = max(pos, s0), min(b1, s0 + sn)
                if lo < hi:
                    t = pa.Table.from_batches([batch]) if t is None else t
                    yield emit(t.slice(lo - pos, hi - lo), g0 + lo)
            pos = b1


#: coalesced page-index region read cap — larger (pathological)
#: layouts fall back to per-chunk reads
_INDEX_REGION_MAX = 16 << 20
#: the prune planner's first read: the file's last 64 KiB (the footer
#: read size pyarrow itself uses) — trailer, footer and, on files whose
#: page indexes sit just before the footer, the whole index region
_TAIL_READ_BYTES = 64 << 10
#: largest bloom blob worth a ranged read at planning time (the spec
#: caps bitsets at 1 MiB; anything bigger is malformed)
_BLOOM_FETCH_MAX = 2 << 20


def _page_prune_spans(filesystem, rel, pushed, src, group_indices,
                      stats=None, group_offsets=None, fin=None):
    """Page-index prune plan for one file: {group index: sorted
    [(first row in group, n rows), ...] covering a SUPERSET of the
    rows any pushed predicate can match}. An empty span list means the
    whole group is prunable; a missing file-level page index returns
    None (no pruning). Never raises — pruning is an optimization, so
    any parse surprise (foreign writer, truncated index) degrades to
    reading everything rather than failing the scan.

    ``group_indices=None`` plans every row group. ``group_offsets``
    (optional dict) is filled with each planned group's first-page
    file offset — the handle split PLANNING uses to map surviving
    groups back onto byte ranges.

    The indexes are fetched by BYTE RANGE: one read of the file's tail
    (trailer, footer and usually the page-index region) plus, only for
    indexes or blooms outside it, one more — which is the point on
    object stores: a selective predicate touches a few KB of index
    instead of the row groups it ends up skipping. ``fin`` (optional)
    is an already-open input file for ``rel``, saving a second open.
    Bounds are decoded by the chunk's physical type and compared in
    the parquet sort order (UTF-8 bounds bytewise — identical to
    code-point order, so writer-truncated min/max stay valid bounds)."""
    import struct as _struct
    from contextlib import nullcontext

    from bazof_spark.operators.parquetmeta import (
        parse_column_index_blob,
        parse_footer_blob,
        parse_offset_index_blob,
    )

    decoders = {
        "INT32": lambda b: _struct.unpack("<i", b)[0],
        "INT64": lambda b: _struct.unpack("<q", b)[0],
        "FLOAT": lambda b: _struct.unpack("<f", b)[0],
        "DOUBLE": lambda b: _struct.unpack("<d", b)[0],
        "BYTE_ARRAY": bytes,
        "BOOLEAN": lambda b: b[0] != 0,
    }

    from datetime import datetime, timezone

    _UNIT_SCALE = {"MILLIS": 1_000, "MICROS": 1_000_000, "NANOS": 10**9}

    def encode(value, ptype, elem=None):
        """Pushed Python value → the decoded-bound comparison domain;
        None = not comparable (skip pruning on this predicate)."""
        if isinstance(value, bool):
            return value if ptype == "BOOLEAN" else None
        if isinstance(value, datetime):
            # an as-of instant vs an INT64 timestamp column: compare in
            # the column's declared unit (naive stored values are UTC
            # instants by the repo-wide convention, matching the
            # reader's row filter)
            unit = (elem or {}).get("timestamp_unit")
            if ptype != "INT64" or unit not in _UNIT_SCALE:
                return None
            if value.tzinfo is None:
                value = value.replace(tzinfo=timezone.utc)
            epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
            micros = (value - epoch) // __import__("datetime").timedelta(
                microseconds=1
            )
            scale = _UNIT_SCALE[unit]
            if scale == 1_000_000:
                return micros
            if scale == 1_000:
                # floor keeps ≤-bound safety: a bound truncated DOWN
                # can only keep more pages, never drop a matching one
                return micros // 1_000
            return micros * 1_000
        if isinstance(value, int):
            return value if ptype in ("INT32", "INT64") else None
        if isinstance(value, float):
            if ptype == "DOUBLE":
                return value
            if ptype == "FLOAT":
                # the reader compares against float32-cast scalars;
                # mirror that so the bound test sees the same value
                return _struct.unpack("<f", _struct.pack("<f", value))[0]
            return None
        if isinstance(value, str):
            return value.encode("utf-8") if ptype == "BYTE_ARRAY" else None
        return None

    def may_match(op, vals, mn, mx):
        if op in ("equal", "isin"):
            return any(mn <= v <= mx for v in vals)
        if op == "greater":
            return mx > vals[0]
        if op == "greater_equal":
            return mx >= vals[0]
        if op == "less":
            return mn < vals[0]
        if op == "less_equal":
            return mn <= vals[0]
        return True  # unknown op: never prune on it

    try:
        with (
            nullcontext(fin)
            if fin is not None
            else filesystem.open_input_file(rel)
        ) as fin:
            size = fin.size()
            if size < 12:
                return None
            tail_at = max(0, size - _TAIL_READ_BYTES)
            tail = fin.read_at(size - tail_at, tail_at)
            (meta_len,) = _struct.unpack("<I", tail[-8:-4])
            if size - 8 - meta_len < 4:
                return None
            footer = parse_footer_blob(
                tail[len(tail) - 8 - meta_len : -8]
                if meta_len + 8 <= len(tail)
                else fin.read_at(meta_len, size - 8 - meta_len)
            )
            top_elems = _top_level_schema_elements(footer["schema"])
            if group_indices is None:
                group_indices = list(range(len(footer["row_groups"])))
            if group_offsets is not None:
                for gi in group_indices:
                    cs = footer["row_groups"][gi]["columns"]
                    if cs:
                        # mirror _row_group_offset exactly: planner and
                        # reader must agree on each group's anchor
                        off = cs[0].get("dictionary_page_offset")
                        if not off or off <= 0:
                            off = cs[0].get("data_page_offset") or 0
                        group_offsets[gi] = off

            # the whole page-index region (per the spec it sits
            # contiguously between the last data page and the footer)
            # comes from the tail read or ONE more coalesced ranged
            # read, so the planner costs O(1) reads per file instead of
            # 2 per predicate×group — the difference between a metadata
            # nibble and a GET storm on object stores. Bounded to
            # 16 MiB; a (pathological) sparser layout falls back to
            # per-chunk reads.
            spans_needed = []
            for gi in group_indices:
                for c in footer["row_groups"][gi]["columns"]:
                    for off, ln in (
                        (c.get("column_index_offset"),
                         c.get("column_index_length")),
                        (c.get("offset_index_offset"),
                         c.get("offset_index_length")),
                    ):
                        if off and ln:
                            spans_needed.append((off, ln))
            region = (tail_at, tail)
            if spans_needed:
                r0 = min(o for o, _ in spans_needed)
                r1 = max(o + n for o, n in spans_needed)
                if r0 < tail_at and r1 - r0 <= _INDEX_REGION_MAX:
                    region = (r0, fin.read_at(r1 - r0, r0))

            def fetch(off: int, ln: int) -> bytes:
                base, blob = region
                if base <= off and off + ln <= base + len(blob):
                    return blob[off - base : off - base + ln]
                # outside the index region (bloom filters sit with the
                # data pages): direct ranged read
                return fin.read_at(ln, off)

            spans_by_group: dict[int, list[tuple[int, int]]] = {}
            any_index = False
            for gi in group_indices:
                rg = footer["row_groups"][gi]
                n_rows = rg["num_rows"]
                spans = [(0, n_rows)]
                for op, col, value in pushed:
                    pcol = src.get(col)
                    if pcol is None:
                        continue
                    chunk = next(
                        (
                            c
                            for c in rg["columns"]
                            if c["path_in_schema"] == [pcol]
                        ),
                        None,
                    )
                    if chunk is None:
                        continue
                    if op in ("equal", "isin"):
                        # split-block bloom probe (group granularity):
                        # prunes scattered values min/max bounds admit,
                        # and works on index-less files too. Parsed
                        # from spec (operators/parquetbloom); any
                        # surprise falls through to page-index pruning.
                        b_off = chunk.get("bloom_filter_offset")
                        b_len = chunk.get("bloom_filter_length")
                        if b_off and b_len and b_len <= _BLOOM_FETCH_MAX:
                            from bazof_spark.operators.parquetbloom import (
                                might_contain,
                                parse_bloom_blob,
                                plain_encoded,
                                xxh64,
                            )

                            raw_b = value if op == "isin" else (value,)
                            enc_b = [
                                None
                                if isinstance(v, (bool, datetime))
                                else plain_encoded(v, chunk.get("type"))
                                for v in raw_b
                            ]
                            if all(e is not None for e in enc_b):
                                try:
                                    bits = parse_bloom_blob(
                                        fetch(b_off, b_len)
                                    )
                                    hit = any(
                                        might_contain(bits, xxh64(e))
                                        for e in enc_b
                                    )
                                except Exception:
                                    hit = True  # unreadable: keep group
                                if not hit:
                                    any_index = True
                                    if stats is not None:
                                        stats["groups_bloom_skipped"] = (
                                            stats.get(
                                                "groups_bloom_skipped", 0
                                            )
                                            + 1
                                        )
                                    spans = []
                                    break
                    ci_off = chunk.get("column_index_offset")
                    ci_len = chunk.get("column_index_length")
                    oi_off = chunk.get("offset_index_offset")
                    oi_len = chunk.get("offset_index_length")
                    dec = decoders.get(chunk.get("type"))
                    if not ci_off or not oi_off or dec is None:
                        continue
                    raw = value if op == "isin" else (value,)
                    if any(isinstance(v, datetime) for v in raw) and (
                        op != "less_equal"
                    ):
                        # the MILLIS floor below is exact only for the
                        # as-of <= shape; no other datetime predicate
                        # exists today, so don't prune on one
                        continue
                    elem = top_elems.get(pcol)
                    vals = [encode(v, chunk["type"], elem) for v in raw]
                    if any(v is None for v in vals):
                        continue
                    ci = parse_column_index_blob(fetch(ci_off, ci_len))
                    oi = parse_offset_index_blob(fetch(oi_off, oi_len))
                    n_pages = len(oi)
                    if (
                        len(ci["null_pages"]) != n_pages
                        or len(ci["min_values"]) != n_pages
                        or len(ci["max_values"]) != n_pages
                    ):
                        continue  # malformed index: don't prune on it
                    any_index = True
                    keep: list[tuple[int, int]] = []
                    pruned = 0
                    for i in range(n_pages):
                        r0 = oi[i]["first_row_index"]
                        r1 = (
                            oi[i + 1]["first_row_index"]
                            if i + 1 < n_pages
                            else n_rows
                        )
                        if ci["null_pages"][i]:
                            pruned += 1  # comparisons are null-rejecting
                            continue
                        try:
                            mn = dec(ci["min_values"][i])
                            mx = dec(ci["max_values"][i])
                        except Exception:
                            keep.append((r0, r1 - r0))  # undecodable: keep
                            continue
                        if may_match(op, vals, mn, mx):
                            keep.append((r0, r1 - r0))
                        else:
                            pruned += 1
                    if stats is not None:
                        stats["pages_total"] = (
                            stats.get("pages_total", 0) + n_pages
                        )
                        stats["pages_pruned"] = (
                            stats.get("pages_pruned", 0) + pruned
                        )
                    spans = _intersect_spans(spans, keep)
                    if not spans:
                        break
                spans_by_group[gi] = spans
                if stats is not None:
                    if not spans:
                        stats["groups_skipped"] = (
                            stats.get("groups_skipped", 0) + 1
                        )
                    stats["rows_pruned"] = (
                        stats.get("rows_pruned", 0)
                        + n_rows
                        - sum(n for _, n in spans)
                    )
            return spans_by_group if any_index else None
    except Exception:
        return None  # optimization only: any surprise = no pruning


def _top_level_schema_elements(elems) -> dict:
    """{name: schema element} for the ROOT's direct children only —
    each group's subtree is skipped by its num_children span, so a
    nested leaf can never shadow a flat column of the same name (the
    round-10 _max_levels lesson, applied to the prune planner)."""
    out: dict = {}

    def skip(j: int) -> int:
        nc = elems[j].get("num_children") or 0
        j += 1
        for _ in range(nc):
            j = skip(j)
        return j

    i = 1  # elems[0] is the root
    while i < len(elems):
        out.setdefault(elems[i]["name"], elems[i])
        i = skip(i)
    return out


def _intersect_spans(a, b):
    """Intersection of two sorted, disjoint (start, n) span lists."""
    out: list[tuple[int, int]] = []
    i = j = 0
    while i < len(a) and j < len(b):
        a0, an = a[i]
        b0, bn = b[j]
        lo, hi = max(a0, b0), min(a0 + an, b0 + bn)
        if lo < hi:
            out.append((lo, hi - lo))
        if a0 + an <= b0 + bn:
            i += 1
        else:
            j += 1
    return out


def _row_group_offset(rg) -> int:
    """File offset of a row group's first page — the point the byte-
    range assignment tests. Any monotone per-group point works as long
    as planner and reader agree; first dictionary/data page offset is
    exact and present in every footer."""
    if rg.num_columns == 0:
        return 0
    c0 = rg.column(0)
    off = c0.dictionary_page_offset
    if off is None or off <= 0:
        off = c0.data_page_offset
    return off


def _bytes_conf(value) -> int | None:
    """Parse a Spark-style size string ('134217728b', '128m', '10MB',
    '1g', '1t', '1pb', '-1' — the suffix set byteStringAsBytes
    accepts) → bytes, or None when unparsable."""
    s = str(value).strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("tb", 1 << 40), ("pb", 1 << 50),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
        ("t", 1 << 40), ("p", 1 << 50), ("b", 1),
    ):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    try:
        return int(s) * mult
    except ValueError:
        return None


def _parse_byte_size(text) -> int:
    """:func:`_bytes_conf` for ``maxPartitionBytes``: unparsable and
    non-positive values are rejected so a misconfigured threshold
    fails at planning with a clear message, not a ZeroDivisionError
    inside the split arithmetic."""
    value = _bytes_conf(text)
    if value is None or value <= 0:
        raise ValueError(
            f"maxPartitionBytes must be a positive byte size, got {text!r}"
        )
    return value


DEFAULT_MAX_PARTITION_BYTES = 128 << 20  # Spark's files.maxPartitionBytes


def _max_partition_bytes(options: dict) -> int:
    """The split threshold: reader option ``maxPartitionBytes`` or the
    Spark default (``Lakehouse.scan`` and :func:`read_table` use the
    session's spark.sql.files.maxPartitionBytes)."""
    return _parse_byte_size(
        options.get("maxpartitionbytes")
        or options.get("maxPartitionBytes")
        or DEFAULT_MAX_PARTITION_BYTES
    )


def _file_sizes(paths, env: dict) -> dict[str, int]:
    """File sizes for split planning, one batched get_file_info call
    per filesystem (a stat locally, a HEAD per file on object stores —
    the same cost class as Spark's own file listing). A missing or
    unsizable file maps to 0 → whole-file task; the read raises its
    own error."""
    from bazof_spark import iofs

    iofs.apply_env(env)
    by_fs: dict[int, tuple[object, list[tuple[str, str]]]] = {}
    for p in paths:
        fs, rel = iofs.split(p)
        by_fs.setdefault(id(fs), (fs, []))[1].append((p, rel))
    sizes: dict[str, int] = {}
    for fs, items in by_fs.values():
        infos = fs.get_file_info([rel for _, rel in items])
        for (p, _), info in zip(items, infos):
            sizes[p] = info.size or 0
    return sizes


def _byte_ranges(size: int, max_bytes: int) -> list[tuple[int, int | None]]:
    """Balanced (start, length) byte ranges covering a file; a single
    (0, None) = whole-file task when the file fits the threshold. The
    LAST range is always open-ended (length None = to EOF): data files
    are immutable by contract, but a size that somehow understates the
    file (stale stat, snapshot anomaly) must cost one oversized task,
    not silently dropped trailing row groups."""
    if size <= max_bytes:
        return [(0, None)]
    nsplits = -(-size // max_bytes)
    step = -(-size // nsplits)  # balanced, not max-then-runt
    starts = list(range(0, size, step))
    return [(s0, step) for s0 in starts[:-1]] + [(starts[-1], None)]


def sizes_of(paths, known_sizes: dict[str, int], env: dict) -> dict[str, int]:
    """``{path: bytes}`` for ``paths``: commit-time-recorded lengths from
    ``known_sizes``, and one batched stat (:func:`_file_sizes`) for the
    files missing there."""
    sizes = {p: known_sizes.get(p, 0) for p in paths}
    missing = [p for p, n in sizes.items() if not n]
    if missing:
        sizes.update(_file_sizes(missing, env))
    return sizes


def plan_byte_ranges(files, known_sizes: dict[str, int], max_bytes: int,
                     env: dict, pushed=(), point_lookup: bool = False):
    """Read tasks ``[(path, rank, tombstone, start, length)]`` over
    already-pruned ``files`` ``[(path, rank, tombstone)]`` — the one
    task planner behind :meth:`ScanPlan.tasks` (the batch Data Source
    reader, and ``Lakehouse.scan``'s driver and object-store routes)
    and the stream reader's micro-batches.

    Files larger than ``max_bytes`` split into balanced byte ranges
    (:func:`_byte_ranges`); each task reads the row groups whose first
    page offset falls in its range, so a 10 GB single-file base fans
    out across the cluster instead of serializing on one task — the
    JVM scan's FilePartition behavior, which the reference's
    one-partition-per-file provider lacks
    (crates/azof-datafusion/src/lib.rs:199-204). Sizes come from
    ``known_sizes`` (commit-time-recorded lengths); only files missing
    there are stat'ed, one batched call per filesystem.

    ``point_lookup`` (a pushed key equality/IN within the bloom probe
    budget): a file that needs SPLITTING has its page indexes fetched
    once (one coalesced ranged read) and the byte ranges containing no
    may-match row group are dropped — a selective lookup on a 10 GB
    base schedules 1 task, not ceil(size/maxPartitionBytes) empty
    ones. Reader-side pruning stays authoritative, so this is purely a
    task-count optimization."""
    from bazof_spark import iofs

    sizes = sizes_of([p for p, _, _ in files], known_sizes, env)
    out = []
    for p, r, tomb in files:
        ranges = _byte_ranges(sizes.get(p) or 0, max_bytes)
        if point_lookup and len(ranges) > 1:
            iofs.apply_env(env)
            filesystem, rel = iofs.split(p)
            offsets: dict[int, int] = {}
            spans = _page_prune_spans(
                filesystem,
                rel,
                pushed,
                {c: c for _, c, _ in pushed},
                None,  # all row groups
                group_offsets=offsets,
            )
            if spans is not None:
                keep = [
                    offsets[g] for g, s in spans.items() if s and g in offsets
                ]
                ranges = [
                    (s0, ln)
                    for s0, ln in ranges
                    if any(
                        s0 <= off and (ln is None or off < s0 + ln)
                        for off in keep
                    )
                ]
        out.extend((p, r, tomb, s0, ln) for s0, ln in ranges)
    return out


#: provenance columns of a raw row (see :func:`raw_row_schema`)
_PROVENANCE_COLS = ("_rank", "_row_idx", "_tombstone")


def raw_row_schema(schema, columns=None, tombstone: bool = False) -> StructType:
    """The raw-row contract of ``format("bazof")`` and of every
    ``Lakehouse.scan`` read: the declared fields — key, event_time,
    then the value columns in ``columns`` (all when None) — plus the
    ``_rank``/``_row_idx`` provenance, and the per-row ``_tombstone``
    marker when ``tombstone``. Declared fields are nullable like the
    native scan's: spark.read.parquet always yields nullable fields,
    and golden data does carry nulls in columns the snapshot declares
    non-nullable — declaring them non-null would NPE the unsafe-row
    writer."""
    from bazof_spark.projection import Projection
    from bazof_spark.schema import EVENT_TIME_COL, KEY_COL

    projection = (
        Projection.all()
        if columns is None
        else Projection.of([KEY_COL, EVENT_TIME_COL, *columns])
    )
    fields = [
        StructField(f.name, f.dataType, True)
        for f in schema.to_struct_type(projection).fields
    ] + [
        StructField("_rank", LongType(), False),
        StructField("_row_idx", LongType(), False),
    ]
    if tombstone:
        fields.append(StructField("_tombstone", BooleanType(), False))
    return StructType(fields)


def key_range_of(pushed):
    """The KeyRange implied by the pushed ``key`` comparisons, or None —
    the one place a scan's key predicate becomes file pruning. Strict
    bounds are widened to inclusive — a superset is always safe (the
    reader still row-filters), and zone maps only need may-contain
    semantics. A pushed EQUALITY or IN-list additionally carries the
    exact keys so planning can probe each file's bloom (every result
    row must satisfy the conjunction, so those values are the only
    keys the scan can return)."""
    from bazof_spark.metadata import MAX_BLOOM_PROBE_KEYS, KeyRange

    lo: str | None = None
    hi: str | None = None
    eq: set[str] = set()
    seen = False
    for op, col, value in pushed:
        if col != "key":
            continue
        if op == "isin" and all(isinstance(v, str) for v in value):
            # conservative under conjunction: the union of all
            # equality/IN values is a superset of the satisfiable
            # keys, and [min, max] of the list bounds the range
            seen = True
            eq.update(value)
            vlo, vhi = min(value), max(value)
            lo = vlo if lo is None else max(lo, vlo)
            hi = vhi if hi is None else min(hi, vhi)
            continue
        if not isinstance(value, str):
            continue
        seen = True
        if op == "equal":
            eq.add(value)
        if op in ("equal", "greater", "greater_equal"):
            lo = value if lo is None else max(lo, value)
        if op in ("equal", "less", "less_equal"):
            hi = value if hi is None else min(hi, value)
    if not seen:
        return None
    # past the probe budget the per-file bloom check is O(|keys|) per
    # file — a key set that big is a join, not a point lookup, so fall
    # back to range-only pruning
    probe = (
        tuple(sorted(eq))
        if eq and len(eq) <= MAX_BLOOM_PROBE_KEYS
        else None
    )
    return KeyRange(lo, hi, keys=probe)


@dataclass(frozen=True)
class ScanPlan:
    """One point-in-time merge scan, planned on the driver from an
    already-resolved snapshot (:func:`plan_scan`) — what every read
    route of ``Lakehouse.scan`` and the ``format("bazof")`` reader
    consume, so the two surfaces cannot plan the same scan differently.

    ``files`` are the ranked ``(path, rank, tombstone)`` data files in
    precedence order (rank = position in the pruned list, lower wins);
    ``raw`` is the raw-row schema (:func:`raw_row_schema`) and
    ``read_args`` the keyword arguments of :func:`read_file_range`
    that produce it. Sizes are read on first use — a full scan on a
    local root never needs them — and byte ranges are planned only
    when a route asks for :meth:`tasks`."""

    files: tuple[tuple[str, int, bool], ...]
    tomb_ranks: tuple[int, ...]
    raw: StructType
    read_args: dict
    point_lookup: bool
    recorded_sizes: dict
    env: dict

    @functools.cached_property
    def sizes(self) -> dict[str, int]:
        """``{path: bytes}``: commit-recorded sizes first, then one
        batched stat for the files the snapshot records none for."""
        return sizes_of([p for p, _, _ in self.files], self.recorded_sizes, self.env)

    @property
    def bytes(self) -> int:
        return sum(self.sizes.values())

    def tasks(self, max_bytes: int):
        """:func:`plan_byte_ranges` over the ranked files."""
        return plan_byte_ranges(
            self.files,
            self.sizes,
            max_bytes,
            self.env,
            self.read_args["pushed"],
            point_lookup=self.point_lookup,
        )


def plan_scan(table, snapshot, as_of: AsOf, columns, pushed, env: dict,
              tombstone: bool = False) -> ScanPlan:
    """Plan the scan of ``table`` at ``snapshot``/``as_of``: the files
    the segment tree ranks for the instant, minus those whose zone-map
    bounds or key bloom exclude :func:`key_range_of` ``(pushed)``;
    reads of ``columns`` (key and event_time are always read) with the
    as-of bound and the ``pushed`` ``(op, column, value)`` predicates
    applied in the reader; ``tombstone`` adds the per-row marker to the
    raw rows (the merge can also hide tombstones by ``tomb_ranks``).
    ``env`` is the driver's BAZOF_* snapshot the reads run under."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    key_range = key_range_of(pushed)
    tombs = snapshot.tombstone_files()
    files = tuple(
        (table.data_file_path(f), r, f in tombs)
        for f, r in snapshot.ranked_data_files(as_of, key_range)
    )
    raw = raw_row_schema(snapshot.schema, columns, tombstone)
    return ScanPlan(
        files=files,
        tomb_ranks=tuple(r for _, r, tomb in files if tomb),
        raw=raw,
        read_args=dict(
            columns=[n for n in raw.fieldNames() if n not in _PROVENANCE_COLS],
            field_order=raw.fieldNames(),
            # Spark's Arrow bridge accepts only µs timestamps (the
            # format's parquet may carry ms/ns); nullable because
            # arrow's cast refuses nulls into non-null fields
            arrow_schema=pa.schema(
                [f.with_nullable(True) for f in to_arrow_schema(raw)]
            ),
            # former spellings per declared column (RENAME COLUMN): the
            # per-file reader resolves which spelling each file carries
            formers={
                c.name: c.formers for c in snapshot.schema.columns if c.formers
            },
            pushed=list(pushed),
            as_of_dt=as_of.event_time_at,
        ),
        point_lookup=key_range is not None and key_range.keys is not None,
        # commit-time-recorded file lengths: sizing stats ONLY files
        # the snapshot predates (an unconditional stat pass adds
        # planning latency on object stores with many small files)
        recorded_sizes={
            table.data_file_path(f): n for f, n in snapshot.file_sizes().items()
        },
        env=env,
    )


def read_file_range(path: str, rank: int, tombstone: bool, start: int,
                    length: int | None, *, columns, field_order,
                    arrow_schema, formers, pushed, as_of_dt) -> Iterator:
    """One batch read task: :func:`_file_batches` over one (file, byte
    range), with the as-of bound and the pushed ``(op, column, value)``
    predicates applied row-wise, so rows past the instant or outside
    the predicates never cross into the JVM. The keyword arguments are
    a :class:`ScanPlan`'s ``read_args``; the task is one of its
    :meth:`ScanPlan.tasks`. Runs in :meth:`BazofReader.read`, in
    ``Lakehouse.scan``'s object-store ``mapInArrow`` tasks and on the
    driver for small keyed lookups; yields Arrow record batches."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for t in _file_batches(
        path,
        rank,
        columns,
        field_order,
        arrow_schema,
        tombstone=tombstone,
        formers=formers,
        start=start,
        length=length,
        # pushed predicates double as the page-index prune plan: row
        # groups no page can match are never fetched, partial groups
        # are sliced to may-match page spans — the exact row-wise
        # evaluation below stays authoritative. The as-of bound rides
        # along: the writer's event_time-DESC invariant puts the NEWEST
        # instants in a file's leading pages, so a historical as-of
        # prunes them wholesale
        pushed=(
            list(pushed)
            + (
                [("less_equal", "event_time", as_of_dt)]
                if as_of_dt is not None
                else []
            )
        ),
    ):
        if as_of_dt is not None:
            # Naive parquet timestamps are treated as UTC instants
            # (same convention as sources/tables._normalize_ntz).
            col = t.column("event_time")
            if getattr(col.type, "tz", None):
                target = pa.timestamp("us", col.type.tz)
                bound = pa.scalar(as_of_dt, type=target)
            else:
                target = pa.timestamp("us")
                bound = pa.scalar(as_of_dt.replace(tzinfo=None), type=target)
            t = t.filter(pc.less_equal(pc.cast(col, target), bound))
        for op, name, value in pushed:
            col = t.column(name)
            if op == "isin":
                t = t.filter(
                    pc.is_in(col, value_set=pa.array(value, type=col.type))
                )
            else:
                t = t.filter(
                    getattr(pc, op)(col, pa.scalar(value, type=col.type))
                )
        yield from t.to_batches()


def file_range_task_reader(tasks, env: dict, **read_args):
    """``mapInArrow`` body over ``spark.range(len(tasks))``: row ``i``
    reads ``tasks[i]`` (a :func:`plan_byte_ranges` entry) through
    :func:`read_file_range`. The task list rides in the pickled
    closure — five scalars per task — together with the driver's
    BAZOF_* env: executors inherit the JVM's LAUNCH-time env, so an
    endpoint or emulation variable set after session start would
    otherwise never reach the per-file iofs resolution."""

    def read(batches):
        from bazof_spark import iofs

        iofs.apply_env(env)
        for b in batches:
            for i in b.column(0).to_pylist():
                yield from read_file_range(*tasks[i], **read_args)

    return read


class BazofReader(DataSourceReader):
    """Batch reader of the raw versioned rows. Partitions and per-task
    reads both come from :func:`plan_scan` under the filters pushed so
    far. Spark pickles the reader after ``pushFilters`` and before
    ``partitions()``, so each task re-plans from the pickled snapshot
    (metadata only; sizes and byte ranges are never computed there)."""

    def __init__(self, options: dict, schema: StructType, resolved=None):
        from bazof_spark import iofs

        _apply_env_option(options)
        self._table, self._snapshot, self._as_of = resolved or _resolve(options)
        self._types = {
            f.name: f.dataType.typeName()
            for f in schema.fields
            if f.name not in _PROVENANCE_COLS
        }
        self._tombstone = "_tombstone" in schema.fieldNames()
        self._pushed: list[tuple[str, str, object]] = []
        # row-group splitting threshold — the JVM scan's
        # spark.sql.files.maxPartitionBytes counterpart
        self._max_part_bytes = _max_partition_bytes(options)
        # driver-side BAZOF_* env rides with the pickled reader —
        # executors inherit the JVM's LAUNCH-time env, so an endpoint
        # or emulation variable set after session start would
        # otherwise never reach the per-file iofs resolution
        self._env = iofs.env_snapshot()

    _COMPARATORS = {
        EqualTo: "equal",
        GreaterThan: "greater",
        GreaterThanOrEqual: "greater_equal",
        LessThan: "less",
        LessThanOrEqual: "less_equal",
    }

    #: filter value type → the column types the Arrow reader compares
    #: it with exactly (no string/numeric coercion)
    _PUSHABLE_TYPES = {
        bool: {"boolean"},
        int: {"byte", "short", "integer", "long"},
        float: {"float", "double"},
        str: {"string"},
    }

    def pushFilters(self, filters: list[Filter]):
        """Catalyst offers its pushable predicates; accept simple
        comparisons on top-level data columns and evaluate them inside
        the Arrow reader (so filtered rows, like as-of-pruned ones,
        never cross into the JVM). Everything else is handed back for
        Spark to evaluate — correctness never depends on the pushdown
        (Spark re-checks accepted filters only if we mis-declare, so
        only comparisons with exact arrow-comparable semantics are
        accepted: no strings-vs-numeric coercions, no nested paths)."""

        def _acceptable(col: str | None, value) -> bool:
            return self._types.get(col) in self._PUSHABLE_TYPES.get(
                type(value), ()
            )

        for f in filters:
            op = self._COMPARATORS.get(type(f))
            col = f.attribute[0] if len(getattr(f, "attribute", ())) == 1 else None
            if op is not None and _acceptable(col, getattr(f, "value", None)):
                self._pushed.append((op, col, f.value))
            elif (
                isinstance(f, In)
                # Spark 4.1 hands the value list over as a list; the
                # dataclass annotation (and older callers) say tuple
                and isinstance(getattr(f, "value", None), (list, tuple))
                and f.value
                and all(_acceptable(col, v) for v in f.value)
            ):
                # IN-list: evaluated via pc.is_in in the reader; a key
                # IN-list additionally feeds the bloom-probed partition
                # planning (the multi-key point-lookup path)
                self._pushed.append(("isin", col, tuple(f.value)))
            else:
                yield f  # unsupported → Spark evaluates it

    def _plan(self) -> ScanPlan:
        return plan_scan(
            self._table,
            self._snapshot,
            self._as_of,
            list(self._types),
            self._pushed,
            self._env,
            tombstone=self._tombstone,
        )

    def partitions(self):
        """The plan's byte-range tasks: a pushed key predicate drops
        the files whose zone-map stats exclude it, so a selective key
        lookup schedules O(matching files) tasks — the same files, in
        the same precedence, as ``Lakehouse.scan(keys=...)``."""
        return [
            _FilePartition(*task)
            for task in self._plan().tasks(self._max_part_bytes)
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        from bazof_spark import iofs

        iofs.apply_env(self._env)
        if partition is None:
            # every file pruned by the as-of bound: pyspark substitutes
            # [None] for an empty partition list and still calls read()
            # (plan_data_source_read.py) — a 0-row result, not an error
            return
        yield from read_file_range(
            partition.path,
            partition.rank,
            partition.tombstone,
            partition.start,
            partition.length,
            **self._plan().read_args,
        )


@dataclass
class _DeltaFileMessage(WriterCommitMessage):
    """Per-task commit record: where the staged parquet landed and the
    event-time range it covers (None file ⇒ empty partition)."""

    file_path: str | None
    start_us: int | None  # min(event_time), epoch µs UTC
    end_us: int | None
    num_rows: int = 0


class BazofBatchWriter(DataSourceArrowWriter):
    """``df.write.format("bazof")`` — a distributed two-phase-commit
    author for azof tables, the cluster-shaped version of the writer the
    reference roadmaps (README.md:152).

    Phase 1 (executors): each task sorts its Arrow batches event_time
    DESC (the format's file invariant,
    crates/azof-cli/src/test_bench.rs:103-121), casts to the table's
    declared types, and writes ONE staged parquet under
    ``{table}/_ds_stage_{token}/`` via pyarrow.fs (object-store
    generic). Failed/speculative task attempts leave only orphaned
    staged files — never visible data.

    Phase 2 (driver ``commit``): exactly the files named in the commit
    messages are moved to final delta names and published as ONE new
    snapshot version; the ``version.txt`` flip is the atomic commit
    point, so readers see all files or none (snapshot isolation, same
    discipline as ``writer.append_delta``). ``abort`` removes the
    staging directory.

    Key-placement discipline is the caller's (same contract as
    ``add_delta_distributed``): repartition by ``key`` before writing so
    a key lives in exactly one sibling file — :func:`write_table` does
    this for you. All sibling deltas share one ``[start, end]`` range
    because they are one logical batch.
    """

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        import uuid

        from bazof_spark import iofs
        from bazof_spark.schema import (
            EVENT_TIME_COL,
            KEY_COL,
            TableSchema,
        )

        _apply_env_option(options)
        root = options.get("path")
        name = options.get("table")
        if not root or not name:
            raise ValueError(
                "bazof sink needs .option('path', …) and .option('table', …)"
            )
        self._table_path = iofs.join(root, name)
        self._overwrite = overwrite
        self._segment_id = options.get("segment") or None
        self._pending_add: list = []
        if overwrite:
            # declared schema derives from the incoming frame
            self._table_schema = TableSchema.from_struct_type(schema)
        else:
            # append into an existing table: its declared schema wins;
            # missing nullable columns are null-filled, extras rejected
            table = Table(path=self._table_path, name=name)
            self._table_schema = table.get_current_snapshot().schema
            declared = {KEY_COL, EVENT_TIME_COL} | set(
                self._table_schema.column_names()
            )
            extra = [f.name for f in schema.fields if f.name not in declared]
            if extra:
                merge = (
                    options.get("mergeschema")
                    or options.get("mergeSchema")
                    or ""
                ).lower() == "true"
                if not merge:
                    raise ValueError(
                        f"columns {extra} not in table schema "
                        f"{sorted(declared)}; evolve the table first or "
                        "set .option('mergeSchema', 'true')"
                    )
                # auto-evolve: the evolved schema is derived here so
                # tasks write files with the new nullable columns, but
                # the columns only commit in commit(), in the SAME
                # snapshot as the data — an aborted write must not
                # leave the table's schema changed
                from bazof_spark.schema import (
                    ColumnDef,
                    column_type_from_spark,
                )

                self._pending_add = [
                    ColumnDef(
                        name=f.name,
                        data_type=column_type_from_spark(f.dataType),
                        nullable=True,
                    )
                    for f in schema.fields
                    if f.name not in declared
                ]
                self._table_schema = TableSchema(
                    tuple(self._table_schema.columns)
                    + tuple(self._pending_add)
                )
        self._stage_dir = iofs.join(
            self._table_path, f"_ds_stage_{uuid.uuid4().hex[:12]}"
        )
        iofs.makedirs(self._stage_dir)
        self._env = iofs.env_snapshot()  # see BazofReader.__init__

    # -- executor side ----------------------------------------------------
    def write(self, iterator) -> _DeltaFileMessage:
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from bazof_spark import iofs
        from bazof_spark.schema import EVENT_TIME_COL, KEY_COL

        iofs.apply_env(self._env)

        from pyspark.sql.pandas.types import to_arrow_type

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _DeltaFileMessage(file_path=None, start_us=None, end_us=None)
        t = pa.Table.from_batches(batches)
        if t.column(KEY_COL).null_count or t.column(EVENT_TIME_COL).null_count:
            raise ValueError("key and event_time must not be null")
        # column order + declared arrow types (timestamps µs UTC, ints
        # widened to int64, floats to float64 — the read schema's types)
        fields = [
            pa.field(KEY_COL, pa.string()),
            pa.field(EVENT_TIME_COL, pa.timestamp("us", "UTC")),
        ]
        arrays = [t.column(KEY_COL), t.column(EVENT_TIME_COL)]
        for col in self._table_schema.columns:
            target = to_arrow_type(col.data_type.to_spark())
            if pa.types.is_timestamp(target):
                target = pa.timestamp("us", "UTC")
            fields.append(pa.field(col.name, target))
            if col.name in t.column_names:
                arrays.append(t.column(col.name))
            elif col.nullable:
                arrays.append(pa.nulls(t.num_rows, type=target))
            else:
                raise ValueError(
                    f"non-nullable column {col.name!r} missing from write"
                )
        t = pa.Table.from_arrays(
            [a.cast(f.type) for a, f in zip(arrays, fields)],
            schema=pa.schema(fields),
        )
        t = t.sort_by([(EVENT_TIME_COL, "descending")])
        mm = pc.min_max(pc.cast(t.column(EVENT_TIME_COL), pa.int64())).as_py()
        dest = iofs.join(self._stage_dir, f"part-{uuid.uuid4().hex}.parquet")
        filesystem, rel = iofs._split(dest)
        # page indexes: JVM scans page-prune on pushed predicates;
        # key blooms: row-group skipping for pushed key equalities
        from bazof_spark.operators.parquetbloom import write_table_with_blooms

        write_table_with_blooms(t, rel, filesystem, write_page_index=True)
        return _DeltaFileMessage(
            file_path=dest,
            start_us=mm["min"],
            end_us=mm["max"],
            num_rows=t.num_rows,
        )

    # -- driver side ------------------------------------------------------
    def commit(self, messages):
        from bazof_spark import iofs
        from bazof_spark.errors import BazofError

        real = [m for m in messages if m is not None and m.file_path]
        try:
            if real:
                self._publish(real)
            elif self._overwrite:
                # an empty table has no state to publish
                raise BazofError("cannot commit an empty write")
            # else: empty append — no-op, no version churn
        finally:
            iofs.delete_dir(self._stage_dir)

    def _publish(self, real: list) -> None:
        """Publish the staged files named in ``real`` as ONE snapshot:
        the replacement state (overwrite) or an appended delta set
        carrying any mergeSchema columns in the same snapshot."""
        from datetime import datetime, timezone

        from bazof_spark.writer import (
            _commit_files,
            create_table_version_from_files,
        )

        files = [m.file_path for m in real]
        start = datetime.fromtimestamp(
            min(m.start_us for m in real) / 1e6, tz=timezone.utc
        )
        end = datetime.fromtimestamp(
            max(m.end_us for m in real) / 1e6, tz=timezone.utc
        )
        if self._overwrite:
            create_table_version_from_files(
                self._table_path, self._table_schema, files, start, end
            )
        else:
            _commit_files(
                self._table_path, files, start, end,
                segment_id=self._segment_id, add=self._pending_add,
            )

    def abort(self, messages):
        from bazof_spark import iofs

        iofs.delete_dir(self._stage_dir)


class _VersionFilePartition(InputPartition):
    def __init__(self, path: str, version: int, tombstone: bool = False,
                 formers=None, start: int = 0, length: int | None = None):
        self.path = path
        self.version = version
        self.tombstone = tombstone
        #: {declared name: (former spellings,)} as of the file's OWN
        #: snapshot version — files carry whatever spelling was current
        #: when they were written (RENAME COLUMN support)
        self.formers = formers or {}
        # byte range (length None = whole file): a big file in the
        # replayed range — e.g. a large base at startingVersion=0 —
        # fans out over the cluster like the batch reader's splits
        self.start = start
        self.length = length


class BazofStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("bazof")`` — snapshot-aware change
    stream: offsets are SNAPSHOT VERSIONS, each micro-batch is exactly
    the data files a committed version range added (the CDC append
    feed; the format is upsert-only, so every added row is an
    insert/update event). This replaces glob-based file tailing with
    the commit log itself: staged files, orphans from failed commits,
    and checkpoint rewrites are never read, because only
    snapshot-referenced files count.

    - ``startingVersion`` option: first batch replays from this
      version's file set (``"0"`` ⇒ the whole table history;
      ``"latest"`` — the default — ⇒ only commits after the query
      starts).
    - rows carry ``_rank`` = the snapshot version that added the file
      and ``_row_idx`` = row position. CAUTION: this is the OPPOSITE
      ordering convention from the batch source, where a LOWER ``_rank``
      means higher precedence — here higher version = newer commit.
      Don't hand-build the precedence struct: use
      ``bazof_spark.ordering.latest_wins_ordering("stream")`` (the
      batch recipe is ``latest_wins_ordering("batch")``), which owns
      both conventions and the shared event_time / first-physical-row
      tie-breaks.
    - replay window: offsets reference ``s{N}.json`` snapshots; a
      vacuum that drops files still referenced by an un-checkpointed
      offset range breaks replay, exactly Delta's retention contract.
    - tombstone DELETE versions (writer.delete_keys) stream their rows
      like any other delta — ``(key, event_time)`` with null value
      columns — and, on delete-capable tables, every row carries a
      ``_tombstone`` boolean marker (constant per file, like
      ``_rank``): a consumer folding latest-state drops keys whose
      winning row has it set, exactly like ``read_table``. The marker
      column exists only once the table has a tombstone delta, so a
      table's FIRST delete is a source schema change: a stream started
      before it fails fast at that version with a restart instruction
      instead of surfacing deleted keys as unmarked null rows.
    """

    def __init__(self, options: dict, schema: StructType):
        from bazof_spark import iofs

        root = options.get("path")
        name = options.get("table")
        if not root or not name:
            raise ValueError(
                "bazof stream source needs .option('path', …) and "
                ".option('table', …)"
            )
        _apply_env_option(options)
        self._env = iofs.env_snapshot()  # see BazofReader.__init__
        self._table = Table(path=iofs.join(root, name), name=name)
        self._schema = schema
        start = (
            options.get("startingversion")
            or options.get("startingVersion")
            or "latest"
        )
        self._starting = start
        self._ignore_rewrites = (
            options.get("ignorerewrites")
            or options.get("ignoreRewrites")
            or ""
        ).lower() == "true"
        self._ignore_deletes = (
            options.get("ignoredeletes")
            or options.get("ignoreDeletes")
            or ""
        ).lower() == "true"
        self._max_part_bytes = _max_partition_bytes(options)

    # -- offsets ----------------------------------------------------------
    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        if self._starting == "latest":
            return {"version": int(self._table.current_version())}
        return {"version": int(self._starting)}

    def latestOffset(self) -> dict:  # noqa: N802
        return {"version": int(self._table.current_version())}

    def _files_of(self, version: int) -> set[str]:
        from bazof_spark.maintenance import _referenced_files

        if version <= 0:
            return set()
        return _referenced_files(self._table.get_snapshot(str(version)))

    def _base_files_of(self, version: int) -> set[str]:
        from bazof_spark.maintenance import _all_segments

        if version <= 0:
            return set()
        return {
            seg.file
            for seg in _all_segments(self._table.get_snapshot(str(version)))
            if seg.file
        }

    def partitions(self, start: dict, end: dict):
        from bazof_spark.errors import BazofError

        s, e = int(start["version"]), int(end["version"])
        if s >= e:
            return []
        final = self._files_of(e)
        # RENAME COLUMN across the replayed range: each column's rename
        # chain (current name + all formers, from the LATEST snapshot —
        # formers accumulate, so it covers every spelling the column
        # ever had) maps the stream's fixed column names onto whatever
        # spelling any individual file stores
        fmap: dict[str, tuple] = {}
        latest = self._table.get_snapshot(str(e)) if e > 0 else None
        if latest is not None and latest.schema.has_formers():
            stream_cols = [
                n for n in self._schema.fieldNames()
                if n not in _PROVENANCE_COLS
            ]
            for c in latest.schema.columns:
                chain = (c.name, *c.formers)
                for col in stream_cols:
                    if col in chain:
                        alts = tuple(x for x in chain if x != col)
                        if alts:
                            fmap[col] = alts
        out = []
        known_sizes: dict[str, int] = {}
        prev = self._files_of(s)
        prev_bases = self._base_files_of(s)
        for v in range(s + 1, e + 1):
            cur = self._files_of(v)
            cur_bases = self._base_files_of(v)
            removed = prev - cur
            added = cur - prev
            new_bases = cur_bases - prev_bases
            if removed or new_bases:
                # files disappeared, or a segment BASE materialized ⇒
                # this version REWROTE/compacted data (checkpoint,
                # zorder, overwrite): its added files re-encode rows
                # that already streamed, not new changes. Emitting them
                # would double-deliver history, so fail loudly unless
                # the user opts into skipping — the same contract as
                # Delta's ignoreChanges.
                if not self._ignore_rewrites:
                    raise BazofError(
                        f"snapshot version {v} rewrote data files "
                        "(compaction/overwrite) inside the stream's "
                        "offset range; restart the stream from a fresh "
                        "startingVersion, or set "
                        ".option('ignoreRewrites', 'true') to skip "
                        "rewrite versions (appends committed inside a "
                        "skipped rewrite version are not re-delivered)"
                    )
                prev, prev_bases = cur, cur_bases
                continue
            # ∩ final: versions never published to the pointer (a crash
            # between snapshot write and version.txt flip leaves an
            # orphan s{v}.json) add files no later snapshot references —
            # those rows never became table state and must not stream
            snap = self._table.get_snapshot(str(v))
            tomb = snap.tombstone_files()
            for f, n in snap.file_sizes().items():
                known_sizes.setdefault(self._table.data_file_path(f), n)
            for f in sorted(added & final):
                if f in tomb and "_tombstone" not in self._schema.fieldNames():
                    # the stream's schema was fixed before this table's
                    # first delete; delivering the rows unmarked would
                    # silently surface deleted keys as null-valued rows
                    if self._ignore_deletes:
                        # Delta's ignoreDeletes analog: the consumer
                        # declared delete events irrelevant (append-only
                        # downstream); skip the tombstone file
                        continue
                    raise BazofError(
                        f"snapshot version {v} added a tombstone delta "
                        "but this stream started before the table had "
                        "deletes (schema lacks _tombstone); restart the "
                        "stream so the source schema includes the "
                        "marker, or set .option('ignoreDeletes', "
                        "'true') to skip tombstone files"
                    )
                out.append((self._table.data_file_path(f), v, f in tomb))
            prev, prev_bases = cur, cur_bases
        # byte-range splitting, same planner as the batch reader: a
        # large file in the range (a big base replayed from version 0)
        # must not serialize one micro-batch onto one task
        return [
            _VersionFilePartition(
                p, v, tomb, formers=fmap, start=s0, length=ln
            )
            for p, v, tomb, s0, ln in plan_byte_ranges(
                out, known_sizes, self._max_part_bytes, self._env
            )
        ]

    def read(self, partition: _VersionFilePartition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from bazof_spark import iofs

        iofs.apply_env(self._env)
        if partition is None:
            return  # empty version range → 0-row batch, not an error
        arrow_schema = pa.schema(
            [f.with_nullable(True) for f in to_arrow_schema(self._schema)]
        )
        cols = [
            f.name
            for f in self._schema.fields
            if f.name not in _PROVENANCE_COLS
        ]
        order = [f.name for f in self._schema.fields]
        for t in _file_batches(
            partition.path,
            partition.version,
            cols,
            order,
            arrow_schema,
            tombstone=partition.tombstone,
            formers=getattr(partition, "formers", None),
            start=getattr(partition, "start", 0),
            length=getattr(partition, "length", None),
        ):
            yield from t.to_batches()

    def commit(self, end: dict) -> None:
        pass  # checkpointing is the engine's; snapshots are immutable


class BazofStreamWriter(BazofBatchWriter, DataSourceStreamArrowWriter):
    """``stream.writeStream.format("bazof")`` — native Structured
    Streaming sink: each micro-batch commits as ONE new snapshot
    version through the same staged-files → atomic-pointer-flip path as
    the batch writer (the foreachBatch sink in streaming/sink.py is the
    hand-rolled equivalent; this is the source-API shape).

    Semantics:
    - append output mode only (the table IS an upsert log — complete/
      update modes would overwrite history and are refused);
    - the table is auto-created from the stream's schema on the first
      non-empty batch if absent;
    - **key placement is the stream's responsibility**: a sink cannot
      shuffle, so all of one key's rows within a micro-batch must
      arrive in ONE task — true for key-partitioned sources (Kafka
      keyed topics), otherwise add ``.repartition("key")`` before
      ``writeStream``. A key split across sibling files of one batch
      is arbitrated by stable file order (the format's equal-start
      precedence), not by event time;
    - **idempotent replay**: the last committed batchId is recorded in
      ``_STREAM_BATCH`` AFTER the snapshot publish; a replayed batch
      (failure between publish and checkpoint commit) with
      ``batchId <= recorded`` is skipped. A crash between publish and
      the marker write degrades to the documented foreachBatch
      contract: the replayed rows land in a duplicate delta whose
      identical (key, event_time) content the merge resolves to the
      same winners — exactly-once at the query-result level. The
      marker is per-table: one writing stream per table, like every
      single-writer azof path;
    - empty micro-batches are no-ops (no version churn).
    """

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        from bazof_spark.errors import TableNotFoundError

        if overwrite:
            raise ValueError(
                "bazof streaming sink supports append output mode only"
            )
        try:
            super().__init__(options, schema, overwrite=False)
        except TableNotFoundError:
            # the first non-empty batch creates the table from the
            # stream schema (an overwrite of nothing); later batches
            # append
            super().__init__(options, schema, overwrite=True)
        # batchIds are scoped to a CHECKPOINT (a fresh checkpoint
        # restarts at 0), so the replay marker must be too — and to the
        # checkpoint's IDENTITY, not its path: deleting the checkpoint
        # dir and reusing the path assigns a new streaming query id and
        # restarts batchIds at 0, and a path-keyed marker would then
        # silently drop every batch up to the stale recorded id. The
        # query id lives in <checkpoint>/metadata; it may not exist yet
        # when this writer is constructed, so the scope resolves lazily
        # at first commit (driver side). Without a checkpointLocation
        # there is no durable batch scope — a per-run key degrades to
        # merge-level idempotence.
        self._checkpoint = options.get("checkpointlocation") or options.get(
            "checkpointLocation"
        )
        self._marker_name: str | None = None

    def _marker_scope(self) -> str:
        import hashlib
        import json
        import uuid

        from bazof_spark import iofs

        if not self._checkpoint:
            return uuid.uuid4().hex[:12]
        try:
            meta = json.loads(
                iofs.read_text(iofs.join(self._checkpoint, "metadata"))
            )
            ident = str(meta["id"])
        except Exception:
            # metadata unreadable: fall back to the path (pre-4.x
            # behavior) — still correct across crash-restarts of the
            # SAME checkpoint, weaker only for delete-and-reuse
            ident = self._checkpoint
        return hashlib.md5(ident.encode()).hexdigest()[:12]

    def _marker_path(self) -> str:
        from bazof_spark import iofs

        if self._marker_name is None:
            self._marker_name = f"_STREAM_BATCH_{self._marker_scope()}"
        return iofs.join(self._table_path, self._marker_name)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        from bazof_spark import iofs

        real = [m for m in messages if m is not None and m.file_path]
        try:
            marker = self._marker_path()
            if iofs.exists(marker):
                last = int(iofs.read_text(marker).strip() or "-1")
                if batchId <= last:
                    return  # replayed batch already durable
            if not real:
                return  # empty micro-batch: no version churn
            self._publish(real)
            self._overwrite = False
            iofs.replace_text(marker, str(batchId))
        finally:
            # committed files were MOVED out; what remains is orphans
            # from failed/replayed attempts — wipe and re-arm for the
            # next micro-batch
            iofs.delete_dir(self._stage_dir)
            iofs.makedirs(self._stage_dir)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        from bazof_spark import iofs

        iofs.delete_dir(self._stage_dir)
        iofs.makedirs(self._stage_dir)


class BazofDataSource(DataSource):
    """Register once per session: ``spark.dataSource.register(BazofDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "bazof"

    def _resolved(self):
        # schema() and reader() both need the (table, snapshot, as_of)
        # triple; resolving once pins ONE snapshot for the whole read —
        # two independent resolutions could straddle a concurrent
        # commit and scan files the schema wasn't derived from
        if not hasattr(self, "_resolved_cache"):
            self._resolved_cache = _resolve(self.options)
        return self._resolved_cache

    def schema(self) -> StructType:
        _, snapshot, _ = self._resolved()
        # projection pushdown: the Python Data Source API has no column
        # pruning hook, so callers narrow via .option("columns",
        # "a,b") — value columns outside the list never leave the
        # Arrow reader (key/event_time always read; the merge needs
        # them, exactly like the native scan's ReadSchema)
        wanted = self.options.get("columns")
        keep = None
        if wanted is not None:
            keep = {c.strip() for c in wanted.split(",") if c.strip()}
            declared = set(snapshot.schema.to_struct_type().fieldNames())
            missing = sorted(keep - declared)
            if missing:
                raise ValueError(
                    f"columns option names unknown column(s) {missing}; "
                    f"declared: {sorted(declared)}"
                )
        # delete-capable table: every raw row carries the marker so
        # stream/raw consumers can fold deletes (delete-free tables
        # keep the historical schema — nothing changes for them; a
        # table's FIRST delete is a schema change, restart streams)
        return raw_row_schema(
            snapshot.schema, keep, tombstone=bool(snapshot.tombstone_files())
        )

    def reader(self, schema: StructType) -> BazofReader:
        return BazofReader(self.options, schema, resolved=self._resolved())

    def writer(self, schema: StructType, overwrite: bool) -> BazofBatchWriter:
        return BazofBatchWriter(self.options, schema, overwrite)

    def streamWriter(  # noqa: N802 (Spark API name)
        self, schema: StructType, overwrite: bool
    ) -> BazofStreamWriter:
        return BazofStreamWriter(self.options, schema, overwrite)

    def streamReader(  # noqa: N802 (Spark API name)
        self, schema: StructType
    ) -> BazofStreamReader:
        return BazofStreamReader(self.options, schema)


def write_table(
    df,
    root: str,
    name: str,
    mode: str = "append",
    num_files: int | None = None,
    validate: bool = True,
    merge_schema: bool = False,
):
    """Write a DataFrame as one azof commit through the registered sink,
    applying the key-placement discipline the format's merge requires:
    repartition by ``key`` (a key lives in exactly one sibling file, so
    stable precedence among equal-start siblings never arbitrates
    between two versions of one key) and sort event_time DESC within
    each file. ``mode="append"`` upserts a delta batch into an existing
    table; ``mode="overwrite"`` creates/replaces the table at a new
    snapshot version (prior versions stay pinnable)."""
    from bazof_spark.schema import KEY_COL
    from bazof_spark.writer import validate_data_file_invariants

    spark = df.sparkSession
    spark.dataSource.register(BazofDataSource)
    if validate:
        validate_data_file_invariants(df)
    # no sortWithinPartitions here: the sink itself sorts each task's
    # rows event_time-DESC (the file invariant) in one Arrow sort
    part = (
        df.repartition(num_files, KEY_COL)
        if num_files
        else df.repartition(KEY_COL)
    )
    import json

    from bazof_spark import iofs

    writer = (
        part.write.format("bazof")
        .option("path", root)
        .option("table", name)
        .option("bazofEnv", json.dumps(iofs.env_snapshot()))
        .mode(mode)
    )
    if merge_schema:
        writer = writer.option("mergeSchema", "true")
    writer.save()


def broadcast_threshold(spark) -> int | None:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (None when unparsable; non-positive = off, Spark's meaning) — what
    "small" means to :func:`broadcast_hint_if_small` and to the driver
    read of keyed ``Lakehouse.scan`` lookups."""
    return _bytes_conf(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    )


def broadcast_hint_if_small(spark, table_path: str, df, version=None,
                            snapshot=None):
    """STATISTICS-DRIVEN BROADCAST for Data Source scans: the Python
    Data Source API reports no relation statistics, so Spark sizes
    every ``format("bazof")`` scan at defaultSizeInBytes (≈ 2^62) and
    never auto-broadcasts it — a 1 KB dimension table joined through
    this path would shuffle both sides at any scale. The snapshot
    records per-file byte sizes at commit (round 11); when every data
    file's size is known and their sum fits the session's
    ``autoBroadcastJoinThreshold``, attach the broadcast hint Spark
    would have derived from file sizes on a JVM parquet scan. File
    bytes over-approximate the merged output (the as-of merge only
    shrinks rows), mirroring Spark's own compressed-file-size
    estimate; snapshots without recorded sizes (reference-era) stay
    unhinted. A caller that already resolved the snapshot passes it
    as ``snapshot`` (no metadata re-read); otherwise ``version`` (or
    Current) is resolved here. Pinned in tests/test_broadcast_stats.py."""
    import os as _os

    try:
        snap = snapshot
        if snap is None:
            from bazof_spark.table import Table

            t = Table(
                path=table_path,
                name=_os.path.basename(table_path.rstrip("/")),
            )
            snap = t.get_snapshot(str(version or t.current_version()))
        files = set(snap.get_data_files())
        sizes = snap.file_sizes()
        if not files or not files <= set(sizes):
            return df
        total = sum(sizes[f] for f in files)
        threshold = broadcast_threshold(spark)
        if threshold is not None and 0 < total <= threshold:
            return df.hint("broadcast")
    except Exception:
        pass  # statistics are an optimization, never a scan failure
    return df


def read_table(spark, root: str, name: str, as_of: str | None = None,
               version: str | None = None):
    """Merged point-in-time state through the registered source: the
    merge tail of ``Lakehouse.scan`` (``_dedup_latest_per_key``, one
    shuffle of map-side-combined winners) over the source's pruned
    scan. Tombstone rows ride in the merge payload through the
    source's ``_tombstone`` marker, and keys whose winner is a
    tombstone are dropped."""
    import json

    from bazof_spark import iofs
    from bazof_spark.lakehouse import _dedup_latest_per_key
    from bazof_spark.schema import EVENT_TIME_COL, KEY_COL

    spark.dataSource.register(BazofDataSource)
    # pushFilters() requires this capability flag (off by default in
    # Spark 4.1; pre-set in session.get_spark, repeated here for
    # sessions built elsewhere — runtime-settable)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    reader = (
        spark.read.format("bazof")
        .option("path", root)
        .option("table", name)
        .option("bazofEnv", json.dumps(iofs.env_snapshot()))
        # the session's split size, the one Lakehouse.scan reads
        .option(
            "maxPartitionBytes",
            spark.conf.get("spark.sql.files.maxPartitionBytes"),
        )
    )
    if as_of is not None:
        reader = reader.option("asOf", as_of)
    if version is not None:
        reader = reader.option("version", version)
    df = reader.load()
    value_cols = [
        c for c in df.columns
        if c not in (KEY_COL, EVENT_TIME_COL, *_PROVENANCE_COLS)
    ]
    merged = _dedup_latest_per_key(
        df,
        value_cols,
        "_tombstone" if "_tombstone" in df.columns else None,
        [KEY_COL, EVENT_TIME_COL, *value_cols],
    )
    return broadcast_hint_if_small(
        spark, iofs.join(root, name), merged, version
    )
