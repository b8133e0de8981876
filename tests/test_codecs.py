"""`sniff_decompress` / `sniff_format`: magic-byte dispatch to the
stdlib and pyarrow C codecs behind `cli decompress`. Pins the format
decision (including the magic-less .lzma header heuristics), full
decoding of concatenated streams, and one failure contract: a corrupt
or truncated stream raises ValueError naming its format."""

import bz2
import gzip
import io
import lzma
import os
import random
import zlib

import pyarrow as pa
import pytest

from bazof_spark.operators.codecs import (
    _sane_lzma_header,
    sniff_decompress,
    sniff_format,
)

# format -> (compressor, what two concatenated streams decode to:
# "full" = both payloads, "first" = the first one (a .lzma file holds
# one stream), "rejected" = ValueError)
_FORMATS = {
    "gzip": (gzip.compress, "full"),
    "zlib": (zlib.compress, "rejected"),
    "zstd": (lambda b: pa.Codec("zstd").compress(b).to_pybytes(), "full"),
    "xz": (lambda b: lzma.compress(b, format=lzma.FORMAT_XZ), "full"),
    "bzip2": (bz2.compress, "full"),
    "lz4": (lambda b: pa.Codec("lz4").compress(b).to_pybytes(), "full"),
    "lzma": (lambda b: lzma.compress(b, format=lzma.FORMAT_ALONE), "first"),
}


def _payloads():
    rng = random.Random(11)
    return [
        b"",
        b"x",
        b"codec table " * 500,
        rng.randbytes(5000),
        b"\x00" * 300_000,  # multi-block for lz4 frame and zstd
    ]


@pytest.mark.parametrize("fmt", sorted(_FORMATS))
def test_sniff_decompress_formats(fmt):
    compress, concat = _FORMATS[fmt]
    for raw in _payloads():
        assert sniff_decompress(compress(raw)) == (fmt, raw), len(raw)
    blob = compress(b"truncate me " * 200)
    for cut in (blob[:-4], blob[: len(blob) // 2]):
        with pytest.raises(ValueError, match=f"corrupt {fmt} stream"):
            sniff_decompress(cut)
    a, b = b"first stream " * 30, b"second stream " * 40
    two = compress(a) + compress(b)
    if concat == "full":
        assert sniff_decompress(two) == (fmt, a + b)
        assert sniff_decompress(compress(b"") + compress(a)) == (fmt, a)
    elif concat == "first":
        assert sniff_decompress(two) == (fmt, a)
    else:
        with pytest.raises(ValueError, match="after the end of the stream"):
            sniff_decompress(two)


def test_gzip_multi_member_concatenation():
    """Concatenated gzip members (pigz/bgzip, per-record WARC gzip)
    decompress to the concatenation of their payloads, each verified
    against its OWN CRC/ISIZE trailer."""
    parts = [b"first member ", b"second " * 40, os.urandom(500), b""]
    blob = b"".join(gzip.compress(p, i % 9 + 1) for i, p in enumerate(parts))
    assert sniff_decompress(blob) == ("gzip", b"".join(parts))
    # a corrupt SECOND member's CRC is caught, not silently ignored
    bad = bytearray(gzip.compress(b"a" * 64) + gzip.compress(b"b" * 64))
    bad[-5] ^= 1
    with pytest.raises(ValueError, match="corrupt gzip stream: CRC"):
        sniff_decompress(bytes(bad))
    # trailing garbage after a member is not silently dropped
    with pytest.raises(ValueError, match="corrupt gzip stream"):
        sniff_decompress(gzip.compress(b"x") + b"JUNKJUNKJUNKJUNKJUNK")

    # FHCRC members: the header CRC covers THIS member's header only
    # (a preceding member must not poison the sum)
    def member_with_fhcrc(payload: bytes) -> bytes:
        header = b"\x1f\x8b\x08\x02\x00\x00\x00\x00\x00\xff"
        hcrc = (zlib.crc32(header) & 0xFFFF).to_bytes(2, "little")
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        body = co.compress(payload) + co.flush()
        trailer = zlib.crc32(payload).to_bytes(4, "little") + (
            len(payload) % (1 << 32)
        ).to_bytes(4, "little")
        return header + hcrc + body + trailer

    two = member_with_fhcrc(b"first") + member_with_fhcrc(b"second")
    assert sniff_decompress(two) == ("gzip", b"firstsecond")
    # a named member (FNAME) decodes too
    buf = io.BytesIO()
    with gzip.GzipFile(filename="x.txt", fileobj=buf, mode="wb") as f:
        f.write(b"named member")
    assert sniff_decompress(buf.getvalue()) == ("gzip", b"named member")


def test_sniff_lzma_header_plausibility():
    """sniff_format accepts every real LZMA_ALONE preset (including
    8/9 whose 32/64 MiB dict sizes zero the low header bytes) and
    rejects garbage instead of dispatching it to the decoder."""
    raw = b"dict size shapes " * 64
    for preset in range(10):
        blob = lzma.compress(raw, format=lzma.FORMAT_ALONE, preset=preset)
        assert sniff_format(blob) == "lzma", preset
        assert sniff_decompress(blob) == ("lzma", raw)
    # plausible-first-byte garbage: props ok but dict size is not a
    # real encoder shape -> clean rejection, not an LZMA decode error
    for junk in [
        b"\x5d\x03\x00\x00\x00" + b"\xff" * 8 + b"junk",   # dict 3
        b"\x5d\x05\x00\x00\x00" + b"\xff" * 8 + b"junk",   # dict 5 (not 2^n/3*2^k)
        b"\x10" + bytes(16),                               # dict 0
        b"hello world, plain text!",
    ]:
        with pytest.raises(ValueError, match="unrecognized"):
            sniff_format(junk)


def test_sniff_decompress_nonstandard_dict_size():
    """Spec-legal .lzma with a dict size that is neither 2^n nor
    2^n + 2^(n-1) (nonstandard encoders emit these): the magic-only
    sniff still rejects the shape, but sniff_decompress falls back to
    a decode attempt and succeeds; garbage with a sane-looking header
    still reports an unrecognized container."""
    raw = b"nonstandard dict size " * 400
    c = bytearray(lzma.compress(raw, format=lzma.FORMAT_ALONE))
    # rewrite the header dict size to an odd value; LZMA_ALONE decoding
    # only needs dict_size >= the window actually used, so inflating it
    # to a non-power-of-two keeps the stream decodable
    odd = (1 << 22) + 12345
    c[1:5] = odd.to_bytes(4, "little")
    with pytest.raises(ValueError, match="unrecognized"):
        sniff_format(bytes(c))
    fmt, out = sniff_decompress(bytes(c))
    assert (fmt, out) == ("lzma", raw)
    # garbage that passes the relaxed header check must not surface a
    # confusing decoder error
    junk = bytes([93]) + odd.to_bytes(4, "little") + (1000).to_bytes(
        8, "little"
    ) + os.urandom(64)
    with pytest.raises(ValueError, match="unrecognized"):
        sniff_decompress(junk)


def test_header_only_lzma_alone_still_classified():
    """A 13-byte header-only LZMA_ALONE stream (props + dict + usize,
    empty payload) is degenerate but spec-shaped; sniff_format's >= 13
    guard and _sane_lzma_header's minimum must agree so it stays
    classified as lzma instead of raising 'unrecognized container'."""
    blob = lzma.compress(b"x" * 100, format=lzma.FORMAT_ALONE)
    header = blob[:13]
    assert len(header) == 13
    assert _sane_lzma_header(header)
    assert sniff_format(header) == "lzma"
