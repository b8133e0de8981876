"""Generic thrift COMPACT-protocol round-trip codec: parse any struct
into a typed tree and re-emit it byte-identically. This is the repo's
only compact-protocol reader: the parquet footer and page-index views
(operators/parquetmeta) flatten its tree into ``{field_id: value}``
dicts, and appending bloom filters to a finished file
(operators/parquetbloom) needs to REWRITE the footer with two new
fields per column chunk while preserving every other byte of a footer
some OTHER writer produced — so the codec keeps wire types, field
order, and container element types exactly as parsed, and the
round-trip identity is pinned on real footers from four independent
writers (pyarrow, parquet-mr, duckdb, arrow-rs) in
tests/test_parquetbloom.py.

Parsed bytes come from outside the program (files, byte-range GETs),
so every read is bounds-checked: a truncated blob, or a length or
value that runs past its end, raises ``ValueError``.

Encoding rules mirrored from the public thrift compact spec:

- field header: ``(delta << 4) | wire_type`` when 0 < delta ≤ 15,
  else a ``0x0_``-type byte followed by the zigzag field id;
- bool fields carry their value IN the wire type (1 = true, 2 =
  false); bool LIST elements are full bytes (1/2);
- i16/i32/i64 are zigzag varints (parquet.thrift has no i8 fields,
  so the i8-as-zigzag asymmetry in some writers never arises);
- binary = varint length + bytes; double = 8 LE bytes;
- list/set header packs sizes < 15 into the head byte;
- struct = fields then STOP (0x00).

The tree is a list of ``(field_id, wire_type, value)`` in parse order;
lists are ``(elem_type, [values])``, maps ``(key_type, val_type,
[(k, v), ...])`` (order preserved — dict ordering would lose duplicate
or unhashable keys), structs nest as sub-lists.
"""

from __future__ import annotations

import struct as _struct

Field = tuple  # (field_id, wire_type, value)


class _R:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def byte(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("thrift blob truncated")
        b = self.data[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        out = 0
        shift = 0
        while True:
            b = self.byte()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7
            if shift > 70:
                raise ValueError("thrift varint too long")

    def zigzag(self) -> int:
        v = self.varint()
        return (v >> 1) ^ -(v & 1)

    def binary(self) -> bytes:
        n = self.varint()
        out = self.data[self.pos : self.pos + n]
        if len(out) != n:
            raise ValueError("thrift binary runs past the buffer")
        self.pos += n
        return out

    def double(self) -> float:
        if self.pos + 8 > len(self.data):
            raise ValueError("thrift double runs past the buffer")
        (v,) = _struct.unpack_from("<d", self.data, self.pos)
        self.pos += 8
        return v


def parse_struct(data: bytes, pos: int = 0) -> tuple[list[Field], int]:
    """Parse one compact struct at ``pos`` → (typed field list, end
    position)."""
    r = _R(data, pos)
    fields = _parse_struct(r)
    return fields, r.pos


def _parse_struct(r: _R) -> list[Field]:
    fields: list[Field] = []
    field_id = 0
    while True:
        head = r.byte()
        if head == 0:
            return fields
        delta = head >> 4
        wire = head & 0x0F
        if delta:
            field_id += delta
        else:
            field_id = r.zigzag()
        fields.append((field_id, wire, _parse_value(r, wire)))


def _parse_value(r: _R, wire: int):
    if wire == 1:
        return True
    if wire == 2:
        return False
    if wire in (3, 4, 5, 6):
        return r.zigzag()
    if wire == 7:
        return r.double()
    if wire == 8:
        return r.binary()
    if wire in (9, 10):
        head = r.byte()
        size = head >> 4
        elem = head & 0x0F
        if size == 15:
            size = r.varint()
        vals = []
        for _ in range(size):
            if elem in (1, 2):
                vals.append(r.byte() == 1)
            else:
                vals.append(_parse_value(r, elem))
        return (elem, vals)
    if wire == 11:
        size = r.varint()
        if size == 0:
            return (0, 0, [])
        kt_vt = r.byte()
        kt, vt = kt_vt >> 4, kt_vt & 0x0F
        pairs = [
            (_parse_value(r, kt), _parse_value(r, vt)) for _ in range(size)
        ]
        return (kt, vt, pairs)
    if wire == 12:
        return _parse_struct(r)
    raise ValueError(f"unknown thrift compact wire type {wire}")


def emit_struct(fields: list[Field]) -> bytes:
    out = bytearray()
    _emit_struct(out, fields)
    return bytes(out)


def _emit_varint(out: bytearray, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _emit_zigzag(out: bytearray, v: int) -> None:
    _emit_varint(out, (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1)


def _emit_struct(out: bytearray, fields: list[Field]) -> None:
    prev = 0
    for field_id, wire, value in fields:
        delta = field_id - prev
        if 0 < delta <= 15:
            out.append((delta << 4) | wire)
        else:
            out.append(wire)
            _emit_zigzag(out, field_id)
        prev = field_id
        _emit_value(out, wire, value)
    out.append(0)


def _emit_value(out: bytearray, wire: int, value) -> None:
    if wire in (1, 2):
        return  # bool lives in the field header
    if wire in (3, 4, 5, 6):
        _emit_zigzag(out, value)
        return
    if wire == 7:
        out += _struct.pack("<d", value)
        return
    if wire == 8:
        _emit_varint(out, len(value))
        out += value
        return
    if wire in (9, 10):
        elem, vals = value
        if len(vals) < 15:
            out.append((len(vals) << 4) | elem)
        else:
            out.append(0xF0 | elem)
            _emit_varint(out, len(vals))
        for v in vals:
            if elem in (1, 2):
                out.append(1 if v else 2)
            else:
                _emit_value(out, elem, v)
        return
    if wire == 11:
        kt, vt, pairs = value
        _emit_varint(out, len(pairs))
        if pairs:
            out.append((kt << 4) | vt)
            for k, v in pairs:
                _emit_value(out, kt, k)
                _emit_value(out, vt, v)
        return
    if wire == 12:
        _emit_struct(out, value)
        return
    raise ValueError(f"unknown thrift compact wire type {wire}")


def get_field(fields: list[Field], field_id: int):
    """The value of ``field_id`` in a typed field list, or None."""
    for fid, _, value in fields:
        if fid == field_id:
            return value
    return None


def set_field(
    fields: list[Field], field_id: int, wire: int, value
) -> list[Field]:
    """Upsert ``field_id`` keeping the list sorted by field id at the
    insertion point (writers emit ascending ids; inserting in order
    keeps every other field's delta encoding — and therefore bytes —
    unchanged)."""
    out = [f for f in fields if f[0] != field_id]
    at = next(
        (i for i, f in enumerate(out) if f[0] > field_id), len(out)
    )
    out.insert(at, (field_id, wire, value))
    return out
