"""From-spec parquet SPLIT-BLOCK BLOOM FILTERS (parquet-format
BloomFilter.md): build, serialize, append to finished files, and probe
— completing the format vertical one layer past the r11/r12 page
indexes (footer → page indexes → bloom filters). The format's
own snapshots already carry FILE-level key blooms
(metadata.KeyBloom); parquet-native blooms are per-ROW-GROUP,
per-column, and — being part of the public format — readable by every
other engine: Spark's vectorized reader (parquet-mr) probes them for
pushed equality predicates natively, so files this repo commits get
row-group skipping in the JVM for free, and the Python Data Source
probes them through :func:`might_contain` for scattered key layouts
where min/max zone maps cannot prune.

Spec pieces implemented here, pinned against parquet-mr (Spark writes
a bloom with ``parquet.bloom.filter.enabled#col``; our reader must see
every present value — tests/test_parquetbloom.py):

- XXH64 (seed 0) of the value's PLAIN encoding;
- the 8×32-bit split-block structure: the hash's upper 32 bits pick
  the block (``((h >> 32) * num_blocks) >> 32``), the lower 32 set one
  bit per word via the 8 published salt constants;
- the thrift BloomFilterHeader (numBytes + BLOCK/XXHASH/UNCOMPRESSED
  unions) immediately followed by the bitset;
- footer rewrite: ``bloom_filter_offset``/``bloom_filter_length``
  (ColumnMetaData fields 14/15) patched in via the byte-identical
  thrift round-trip codec (operators/thriftcodec.py), so a finished
  file from ANY writer gains blooms without disturbing one other byte
  of its metadata.

Sizing: ``num_bytes = -8·ndv / ln(1 − fpp^(1/8)) / 8`` rounded up to a
power of two, clamped to [32 B, 1 MiB] — the published optimal-size
formula with parquet-mr's default 1% target. NDV is exact (the values
are in hand at build time). Builds self-gate on row count
(:data:`BLOOM_MAX_ROWS`) — the hash loop is per-value Python, so
pathological groups skip the bloom (it is an optimization, never a
requirement)."""

from __future__ import annotations

import math
import struct as _struct

#: split-block salt constants (parquet-format BloomFilter.md)
SALT = (
    0x47B6137B,
    0x44974D91,
    0x8824AD5B,
    0xA2B7289D,
    0x705495C7,
    0x2DF1424B,
    0x9EFC4947,
    0x5C6BFB31,
)

_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261

#: skip bloom builds beyond this many rows per row group (per-value
#: Python hashing; parquet row groups are far smaller in practice)
BLOOM_MAX_ROWS = 4_000_000
_MIN_BYTES = 32
_MAX_BYTES = 1 << 20


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` — the hash parquet blooms mandate. Matches
    the published test vectors and parquet-mr's bitsets."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            l1, l2, l3, l4 = _struct.unpack_from("<QQQQ", data, i)
            v1 = (_rotl((v1 + l1 * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + l2 * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + l3 * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + l4 * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = (
                (h ^ ((_rotl((v * _P2) & _M64, 31) * _P1) & _M64)) * _P1
                + _P4
            ) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = _struct.unpack_from("<Q", data, i)
        h = (
            _rotl(h ^ ((_rotl((k * _P2) & _M64, 31) * _P1) & _M64), 27)
            * _P1
            + _P4
        ) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = _struct.unpack_from("<I", data, i)
        h = ((_rotl(h ^ ((k * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


def plain_encoded(value, physical_type: str) -> bytes | None:
    """The PLAIN encoding of ``value`` for hashing, or None when the
    type is not bloomed (booleans never are — two distinct values)."""
    if value is None:
        return None  # nulls are not inserted (spec: bloom covers non-null)
    if physical_type == "BYTE_ARRAY":
        return value.encode("utf-8") if isinstance(value, str) else bytes(value)
    if physical_type == "INT64":
        return _struct.pack("<q", value)
    if physical_type == "INT32":
        return _struct.pack("<i", value)
    if physical_type == "DOUBLE":
        return _struct.pack("<d", value)
    if physical_type == "FLOAT":
        return _struct.pack("<f", value)
    if physical_type == "FIXED_LEN_BYTE_ARRAY":
        return bytes(value)
    return None


def optimal_num_bytes(ndv: int, fpp: float = 0.01) -> int:
    """Bitset size for ``ndv`` distinct values at target ``fpp``,
    rounded up to a power of two within the spec's [32 B, 1 MiB]."""
    if ndv <= 0:
        return _MIN_BYTES
    bits = -8.0 * ndv / math.log(1.0 - fpp ** (1.0 / 8.0))
    num_bytes = max(_MIN_BYTES, int(math.ceil(bits / 8.0)))
    return min(_MAX_BYTES, 1 << (num_bytes - 1).bit_length())


def _mask_bits(h: int):
    x = h & 0xFFFFFFFF
    return [((x * SALT[i]) & 0xFFFFFFFF) >> 27 for i in range(8)]


def bloom_insert(bitset: bytearray, h: int) -> None:
    base = ((((h >> 32) * (len(bitset) // 32)) >> 32)) * 32
    for i, bit in enumerate(_mask_bits(h)):
        off = base + 4 * i
        (w,) = _struct.unpack_from("<I", bitset, off)
        _struct.pack_into("<I", bitset, off, w | (1 << bit))


def might_contain(bitset: bytes, h: int) -> bool:
    base = ((((h >> 32) * (len(bitset) // 32)) >> 32)) * 32
    for i, bit in enumerate(_mask_bits(h)):
        (w,) = _struct.unpack_from("<I", bitset, base + 4 * i)
        if not (w >> bit) & 1:
            return False
    return True


def build_bitset(hashes, num_bytes: int) -> bytes:
    bitset = bytearray(num_bytes)
    for h in hashes:
        bloom_insert(bitset, h)
    return bytes(bitset)


def serialize_bloom(bitset: bytes) -> bytes:
    """BloomFilterHeader (thrift compact) + bitset — the on-disk blob
    ColumnMetaData.bloom_filter_offset points at."""
    from bazof_spark.operators.thriftcodec import emit_struct

    header = emit_struct(
        [
            (1, 5, len(bitset)),  # numBytes: i32
            (2, 12, [(1, 12, [])]),  # algorithm = BLOCK{}
            (3, 12, [(1, 12, [])]),  # hash = XXHASH{}
            (4, 12, [(1, 12, [])]),  # compression = UNCOMPRESSED{}
        ]
    )
    return header + bitset


def parse_bloom_blob(blob: bytes) -> bytes:
    """Bitset bytes from a header+bitset blob (raises on compressed or
    non-xxhash blooms — nothing writes those)."""
    from bazof_spark.operators.thriftcodec import get_field, parse_struct

    fields, end = parse_struct(blob)
    num_bytes = get_field(fields, 1)
    algo = get_field(fields, 2)
    hash_ = get_field(fields, 3)
    if not isinstance(num_bytes, int) or num_bytes <= 0:
        raise ValueError("bloom header missing numBytes")
    if algo is not None and get_field(algo, 1) is None:
        raise ValueError("unsupported bloom algorithm")
    if hash_ is not None and get_field(hash_, 1) is None:
        raise ValueError("unsupported bloom hash")
    bitset = blob[end : end + num_bytes]
    if len(bitset) != num_bytes:
        raise ValueError("bloom bitset truncated")
    return bitset


def write_table_with_blooms(
    tbl, dest_rel: str, filesystem, bloom_cols=None, **write_kwargs
) -> int:
    """``pq.write_table`` + bloom append in ONE object PUT: the file is
    built in memory (bounded — every commit path writes partition- or
    driver-batch-sized chunks), blooms appended for ``bloom_cols``
    (default: the table's ``key`` column when present, mirroring the
    snapshot KeyBloom discipline), and the finished bytes written once
    through ``filesystem``. Bloom construction is an optimization:
    any surprise keeps the plain file rather than failing the commit
    (tests pin bloom presence on committed files, so a silent
    regression still surfaces). Returns the bytes written."""
    import io

    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(tbl, buf, **write_kwargs)
    data = buf.getvalue()
    if bloom_cols is None:
        bloom_cols = tuple(c for c in ("key",) if c in tbl.schema.names)
    if bloom_cols:
        try:
            data = append_blooms_bytes(data, bloom_cols)
        except Exception:
            pass
    with filesystem.open_output_stream(dest_rel) as out:
        out.write(data)
    return len(data)


def append_blooms_bytes(
    data: bytes, columns=("key",), fpp: float = 0.01
) -> bytes:
    """Return ``data`` (one finished parquet file) with a split-block
    bloom appended per (row group × requested column) and the footer
    rewritten to point at them. Columns absent, non-bloomable, already
    bloomed, or beyond :data:`BLOOM_MAX_ROWS` are skipped; with
    nothing to do the input is returned unchanged. Every other footer
    byte is preserved (byte-identical thrift round-trip)."""
    import io

    import pyarrow.parquet as pq

    from bazof_spark.operators.thriftcodec import (
        emit_struct,
        get_field,
        parse_struct,
        set_field,
    )

    if data[:4] != b"PAR1" or data[-4:] != b"PAR1":
        raise ValueError("not a parquet file")
    (meta_len,) = _struct.unpack("<I", data[-8:-4])
    footer_start = len(data) - 8 - meta_len
    fields, end = parse_struct(data[footer_start : footer_start + meta_len])
    if end != meta_len:
        raise ValueError("parquet footer has trailing bytes")

    pf = pq.ParquetFile(io.BytesIO(data))
    arrow_schema = pf.schema_arrow
    wanted = [c for c in columns if c in arrow_schema.names]
    if not wanted:
        return data

    row_groups = get_field(fields, 4)
    if row_groups is None:
        raise ValueError("parquet footer missing row groups")
    rg_elem, rg_list = row_groups

    blobs: list[bytes] = []
    appended = 0
    write_pos = footer_start
    new_rg_list = []
    for gi, rg_fields in enumerate(rg_list):
        cols = get_field(rg_fields, 1)
        col_elem, col_list = cols
        new_cols = []
        for cc_fields in col_list:
            md = get_field(cc_fields, 3)
            if md is None:
                new_cols.append(cc_fields)
                continue
            path = [
                p.decode("utf-8") for p in get_field(md, 3)[1]
            ]
            ptype_id = get_field(md, 1)
            num_values = get_field(md, 5) or 0
            already = get_field(md, 14) is not None
            if (
                len(path) != 1
                or path[0] not in wanted
                or already
                or num_values > BLOOM_MAX_ROWS
            ):
                new_cols.append(cc_fields)
                continue
            from bazof_spark.operators.parquetmeta import PHYSICAL_TYPES

            ptype = PHYSICAL_TYPES.get(ptype_id, None)
            vals = pf.read_row_group(gi, columns=path)[path[0]].to_pylist()
            encoded = {plain_encoded(v, ptype) for v in vals}
            encoded.discard(None)
            if not encoded:
                new_cols.append(cc_fields)
                continue
            bitset = build_bitset(
                (xxh64(e) for e in encoded), optimal_num_bytes(len(encoded), fpp)
            )
            blob = serialize_bloom(bitset)
            md = set_field(md, 14, 6, write_pos)  # bloom_filter_offset i64
            md = set_field(md, 15, 5, len(blob))  # bloom_filter_length i32
            cc_fields = set_field(cc_fields, 3, 12, md)
            blobs.append(blob)
            write_pos += len(blob)
            appended += 1
            new_cols.append(cc_fields)
        rg_fields = set_field(rg_fields, 1, 9, (col_elem, new_cols))
        new_rg_list.append(rg_fields)

    if not appended:
        return data
    fields = set_field(fields, 4, 9, (rg_elem, new_rg_list))
    new_footer = emit_struct(fields)
    return (
        data[:footer_start]
        + b"".join(blobs)
        + new_footer
        + _struct.pack("<I", len(new_footer))
        + b"PAR1"
    )
