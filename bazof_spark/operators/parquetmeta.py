"""From-spec parquet FOOTER and page-index views (Thrift compact
protocol).

The footer, OffsetIndex and ColumnIndex blobs are parsed by the repo's
one compact-protocol reader (:mod:`thriftcodec`); this module flattens
its typed tree into ``{field_id: value}`` dicts and maps the public
parquet.thrift field ids onto named views, pinned field-by-field
against pyarrow's parsed metadata on real files
(tests/test_parquetmeta.py).

Layout (parquet-format spec): the file ends with
``<FileMetaData thrift> <4-byte LE length> b"PAR1"``; the thrift blob
is a compact-protocol STRUCT.

The typed views below pick out the FileMetaData/RowGroup/ColumnChunk/
Statistics field ids — a wrong id mapping cannot hide, because the
pyarrow pin compares the decoded values on every fixture.
"""

from __future__ import annotations

import struct as _struct

from bazof_spark.operators.thriftcodec import parse_struct

# parquet.thrift public enums (verified against pyarrow in the tests)
PHYSICAL_TYPES = {
    0: "BOOLEAN", 1: "INT32", 2: "INT64", 3: "INT96",
    4: "FLOAT", 5: "DOUBLE", 6: "BYTE_ARRAY", 7: "FIXED_LEN_BYTE_ARRAY",
}
CODECS = {
    0: "UNCOMPRESSED", 1: "SNAPPY", 2: "GZIP", 3: "LZO",
    4: "BROTLI", 5: "LZ4", 6: "ZSTD", 7: "LZ4_RAW",
}
ENCODINGS = {
    0: "PLAIN", 2: "PLAIN_DICTIONARY", 3: "RLE", 4: "BIT_PACKED",
    5: "DELTA_BINARY_PACKED", 6: "DELTA_LENGTH_BYTE_ARRAY",
    7: "DELTA_BYTE_ARRAY", 8: "RLE_DICTIONARY", 9: "BYTE_STREAM_SPLIT",
}
REPETITION = {0: "REQUIRED", 1: "OPTIONAL", 2: "REPEATED"}


def _plain(wire: int, value):
    """A thriftcodec tree value as plain Python: structs →
    ``{field_id: value}``, lists/sets → lists, maps → dicts."""
    if wire == 12:
        return {fid: _plain(w, v) for fid, w, v in value}
    if wire in (9, 10):
        elem, vals = value
        return [_plain(elem, v) for v in vals]
    if wire == 11:
        kt, vt, pairs = value
        return {_plain(kt, k): _plain(vt, v) for k, v in pairs}
    return value


def _read_dict(blob: bytes) -> dict:
    """One compact-protocol struct → ``{field_id: value}``."""
    return _plain(12, parse_struct(blob)[0])


def _utf8(v) -> str | None:
    return v.decode("utf-8") if isinstance(v, (bytes, bytearray)) else v


#: parquet.thrift ConvertedType ordinals for timestamps (deprecated
#: pre-logical-type spelling; old writers emit only these)
_CONVERTED_TIMESTAMPS = {9: "MILLIS", 10: "MICROS"}
#: TimeUnit union field ids inside LogicalType.TIMESTAMP
_TIME_UNITS = {1: "MILLIS", 2: "MICROS", 3: "NANOS"}


def _timestamp_unit(d: dict) -> str | None:
    """The element's timestamp unit ('MILLIS'|'MICROS'|'NANOS'), from
    the LogicalType union (field 10 → TIMESTAMP at union field 8 →
    TimeUnit union at field 2) or the deprecated ConvertedType
    (field 6); None when the element is not a timestamp."""
    lt = d.get(10)
    if isinstance(lt, dict) and isinstance(lt.get(8), dict):
        unit = lt[8].get(2)
        if isinstance(unit, dict):
            for fid, name in _TIME_UNITS.items():
                if fid in unit:
                    return name
    return _CONVERTED_TIMESTAMPS.get(d.get(6))


def _schema_element(d: dict) -> dict:
    return {
        "type": PHYSICAL_TYPES.get(d.get(1), d.get(1)),
        "type_length": d.get(2),
        "repetition": REPETITION.get(d.get(3), d.get(3)),
        "name": _utf8(d.get(4)),
        "num_children": d.get(5),
        "field_id": d.get(9),
        # timestamp unit when declared (page pruning needs it to
        # compare an as-of instant against INT64 column-index bounds)
        "timestamp_unit": _timestamp_unit(d),
    }


def _statistics(d: dict | None) -> dict | None:
    if d is None:
        return None
    return {
        "null_count": d.get(3),
        "distinct_count": d.get(4),
        # modern writers fill 5/6 (min_value/max_value); 1/2 are the
        # deprecated unsigned-comparison twins
        "max_value": d.get(5, d.get(1)),
        "min_value": d.get(6, d.get(2)),
    }


def _column_chunk(d: dict) -> dict:
    md = d.get(3, {})
    return {
        "file_offset": d.get(2),
        # page-index locations (parquet.thrift ColumnChunk 4-7): the
        # footer-level pointers to this chunk's OffsetIndex/ColumnIndex
        "offset_index_offset": d.get(4),
        "offset_index_length": d.get(5),
        "column_index_offset": d.get(6),
        "column_index_length": d.get(7),
        "type": PHYSICAL_TYPES.get(md.get(1), md.get(1)),
        "encodings": [ENCODINGS.get(e, e) for e in md.get(2, [])],
        "path_in_schema": [_utf8(p) for p in md.get(3, [])],
        "codec": CODECS.get(md.get(4), md.get(4)),
        "num_values": md.get(5),
        "total_uncompressed_size": md.get(6),
        "total_compressed_size": md.get(7),
        "data_page_offset": md.get(9),
        "index_page_offset": md.get(10),
        "dictionary_page_offset": md.get(11),
        "statistics": _statistics(md.get(12)),
        # split-block bloom filter location (ColumnMetaData 14/15) —
        # written by parquet-mr and by operators/parquetbloom
        "bloom_filter_offset": md.get(14),
        "bloom_filter_length": md.get(15),
    }


def _row_group(d: dict) -> dict:
    return {
        "columns": [_column_chunk(c) for c in d.get(1, [])],
        "total_byte_size": d.get(2),
        "num_rows": d.get(3),
        "file_offset": d.get(5),
        "total_compressed_size": d.get(6),
        "ordinal": d.get(7),
    }


def parse_footer_blob(meta: bytes) -> dict:
    """Decode a raw FileMetaData thrift blob."""
    d = _read_dict(meta)
    return {
        "version": d.get(1),
        "schema": [_schema_element(e) for e in d.get(2, [])],
        "num_rows": d.get(3),
        "row_groups": [_row_group(g) for g in d.get(4, [])],
        "key_value_metadata": {
            _utf8(kv.get(1)): _utf8(kv.get(2)) for kv in d.get(5, [])
        },
        "created_by": _utf8(d.get(6)),
    }


def parse_parquet_footer(data: bytes) -> dict:
    """Parse a whole parquet FILE's footer: trailing
    ``<metadata> <LE32 length> PAR1``; leading magic checked too."""
    if len(data) < 12 or data[:4] != b"PAR1" or data[-4:] != b"PAR1":
        raise ValueError("not a parquet file (PAR1 magic missing)")
    (meta_len,) = _struct.unpack_from("<I", data, len(data) - 8)
    start = len(data) - 8 - meta_len
    if start < 4:
        raise ValueError("parquet footer length runs past the header")
    return parse_footer_blob(data[start : len(data) - 8])


def decode_int64_stat(v: bytes | None) -> int | None:
    """INT64 min/max statistics are stored as 8-byte LE plain values."""
    if v is None:
        return None
    return _struct.unpack("<q", v)[0]


def decode_int32_stat(v: bytes | None) -> int | None:
    if v is None:
        return None
    return _struct.unpack("<i", v)[0]


def parse_offset_index(data: bytes, chunk: dict) -> list[dict] | None:
    """The chunk's OffsetIndex (parquet.thrift): one entry per data
    page — ``offset`` (PageHeader position in the file),
    ``compressed_page_size`` (header + body), ``first_row_index``
    (cumulative record index, the handle page-level pruning needs to
    map a surviving page back to its row span). None when the writer
    emitted no page index."""
    off, ln = chunk.get("offset_index_offset"), chunk.get("offset_index_length")
    if not off or not ln:
        return None
    return parse_offset_index_blob(data[off : off + ln])


def parse_offset_index_blob(blob: bytes) -> list[dict]:
    """Decode a raw OffsetIndex thrift blob (the ``chunk``-addressed
    form above slices it out of whole-file bytes; readers that fetch
    the index region by byte range — e.g. the Data Source page-prune
    pass over object stores — hand the blob in directly)."""
    d = _read_dict(blob)
    return [
        {
            "offset": p.get(1),
            "compressed_page_size": p.get(2),
            "first_row_index": p.get(3),
        }
        for p in d.get(1, [])
    ]


def parse_column_index(data: bytes, chunk: dict) -> dict | None:
    """The chunk's ColumnIndex (parquet.thrift): per-page zone maps —
    ``null_pages`` (all-null pages carry no min/max), ``min_values`` /
    ``max_values`` (plain-encoded bounds, same representation as the
    footer Statistics), ``boundary_order`` (0 unordered / 1 ascending
    / 2 descending — lets a reader binary-search pages), and optional
    ``null_counts``. This is the structure page-level predicate
    pushdown prunes with at scale: a selective filter skips PAGES, not
    just row groups. None when absent."""
    off, ln = chunk.get("column_index_offset"), chunk.get("column_index_length")
    if not off or not ln:
        return None
    return parse_column_index_blob(data[off : off + ln])


def parse_column_index_blob(blob: bytes) -> dict:
    """Decode a raw ColumnIndex thrift blob (byte-range-fetch twin of
    :func:`parse_column_index`, same contract)."""
    d = _read_dict(blob)
    return {
        "null_pages": d.get(1, []),
        "min_values": d.get(2, []),
        "max_values": d.get(3, []),
        "boundary_order": d.get(4),
        "null_counts": d.get(5),
    }
