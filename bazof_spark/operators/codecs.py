"""Magic-byte dispatcher over the C decompressors stdlib and pyarrow ship.

One entry point for the whole family (gzip, zlib, LZ4 frame, ZSTD,
bzip2, .lzma, .xz): sniff the container from its leading bytes and
decode it with ``gzip``/``zlib``/``bz2``/``lzma`` or pyarrow's
zstd/LZ4 stream decoders — the surface the CLI's ``decompress``
subcommand exposes. Concatenated gzip, bzip2, xz, zstd and LZ4-frame
streams decode in full, as their command-line tools do; a .lzma file
holds one stream and zlib data must end with its stream. A corrupt or
truncated stream raises ``ValueError`` naming the format.
Snappy and raw LZ4 blocks have no magic and must be dispatched
explicitly by their callers.
"""

from __future__ import annotations

import bz2
import gzip
import lzma
import zlib

# what the C codecs raise on a corrupt or truncated stream
_CORRUPT = (OSError, EOFError, ValueError, zlib.error, lzma.LZMAError)


def sniff_format(data: bytes) -> str:
    """Identify a compressed container by magic bytes."""
    if data[:2] == b"\x1f\x8b":
        return "gzip"
    if data[:4] == b"\x28\xb5\x2f\xfd":
        return "zstd"
    if data[:6] == b"\xfd7zXZ\x00":
        return "xz"
    if data[:3] == b"BZh" and len(data) > 3 and 0x31 <= data[3] <= 0x39:
        return "bzip2"
    if data[:4] == b"\x04\x22\x4d\x18":
        return "lz4"
    if len(data) >= 2 and data[0] in (0x08, 0x18, 0x28, 0x38, 0x48, 0x58,
                                      0x68, 0x78) and (
        (data[0] * 256 + data[1]) % 31 == 0
    ):
        return "zlib"
    if len(data) >= 13 and _plausible_lzma_alone(data):
        return "lzma"
    raise ValueError("unrecognized compressed container")


def _plausible_lzma_alone(data: bytes) -> bool:
    """Heuristic for the magic-less .lzma (LZMA_ALONE) header: props
    byte, 4-byte LE dict size, 8-byte LE uncompressed size.

    Real encoders only ever emit dict sizes of shape 2^n or
    2^n + 2^(n-1) (xz presets 0-9 span 256 KiB..64 MiB — presets 8/9
    are exact multiples of 2^24, so the low three bytes are zero and a
    low-bytes-nonzero test wrongly rejects them), and the uncompressed
    size field is either all-0xFF (unknown, what liblzma streams) or a
    sane actual size. Checking the full 5-byte shape both accepts
    preset-9 files and stops arbitrary garbage from being dispatched
    to the range decoder only to die with a confusing LZMA error."""
    if not _sane_lzma_header(data):
        return False
    dict_size = int.from_bytes(data[1:5], "little")
    if dict_size < (1 << 12):  # standard encoders start at 4 KiB
        return False
    # 2^n or 2^n + 2^(n-1): clearing the lowest set bit leaves either
    # zero (power of two) or exactly half the remainder
    low = dict_size & -dict_size
    rest = dict_size - low
    return rest == 0 or rest == 2 * low


def _sane_lzma_header(data: bytes) -> bool:
    """Relaxed .lzma header check — props byte and size fields sane,
    but ANY dict size in range (the spec allows any 32-bit value;
    nonstandard encoders exist). Only used by :func:`sniff_decompress`
    as a last-resort DECODE-ATTEMPT gate, never by the magic-only
    :func:`sniff_format`: without the dict-size shape constraint the
    13-byte header is weak evidence, so the decode itself (with its
    internal checks) is the arbiter and its failure is reported as an
    unrecognized container, not a confusing LZMA error."""
    # header alone is 13 bytes (props + dict + usize); a header-only
    # stream (empty payload) is degenerate but spec-shaped, so the
    # threshold matches sniff_format's >= 13 guard
    if len(data) < 13 or data[0] >= 9 * 5 * 5:
        return False
    dict_size = int.from_bytes(data[1:5], "little")
    if dict_size == 0 or dict_size > (3 << 29):
        return False
    usize = int.from_bytes(data[5:13], "little")
    return usize == (1 << 64) - 1 or usize < (1 << 40)


def sniff_decompress(data: bytes) -> tuple[str, bytes]:
    try:
        fmt = sniff_format(data)
    except ValueError:
        # spec-legal .lzma from a nonstandard encoder (dict size not
        # 2^n / 2^n+2^(n-1)): attempt the decode when the rest of the
        # header is sane; its success is the proof sniffing can't give
        if len(data) >= 13 and _sane_lzma_header(data):
            try:
                return "lzma", _decode("lzma", data)
            except _CORRUPT:
                pass
        raise
    try:
        return fmt, _decode(fmt, data)
    except _CORRUPT as exc:
        raise ValueError(f"corrupt {fmt} stream: {exc}") from exc


def _decode(fmt: str, data: bytes) -> bytes:
    if fmt == "gzip":
        return gzip.decompress(data)
    if fmt == "zlib":
        # zlib.decompress drops bytes after the stream end; reject them
        d = zlib.decompressobj()
        out = _first_stream(d, data)
        if d.unused_data:
            raise ValueError(
                f"{len(d.unused_data)} bytes after the end of the stream"
            )
        return out
    if fmt == "bzip2":
        return bz2.decompress(data)
    if fmt == "xz":
        return lzma.decompress(data, format=lzma.FORMAT_XZ)
    if fmt == "lzma":
        # a .lzma file holds one stream (xz -d never reads a second)
        return _first_stream(lzma.LZMADecompressor(lzma.FORMAT_ALONE), data)
    # zstd / lz4 frame: the output size is not known up front, which
    # pa.Codec.decompress requires, so read them as streams
    import pyarrow as pa

    return pa.CompressedInputStream(pa.BufferReader(data), fmt).read()


def _first_stream(d, data: bytes) -> bytes:
    """Decode the first stream of ``data`` with decompressor ``d``."""
    out = d.decompress(data)
    if not d.eof:
        raise EOFError("stream ends before its end marker")
    return out
