"""Property-based round trips for the round-9 codec/container family.

Each property is a LOSSLESS (or framing-exact) invariant that must
hold for EVERY input, not just the workload fixtures: hypothesis
drives the encoders with adversarial shapes (empty-ish, extreme
values, all-equal runs, random noise) and the independent decoders
must reproduce the input exactly. Pure-Python, no Spark session —
fast enough to run per-commit."""

import os
import sys

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.operators.adpcmcodec import (  # noqa: E402
    decode_ima_nibbles,
    encode_ima_nibbles,
    encode_wav_ima_adpcm,
)
from bazof_spark.operators.flaccodec import decode_flac, encode_flac  # noqa: E402
from bazof_spark.operators.multimodal import decode_wav  # noqa: E402
from bazof_spark.operators.oggcodec import (  # noqa: E402
    decode_ogg_flac,
    encode_ogg_flac,
)
from bazof_spark.operators.qoicodec import decode_qoi, encode_qoi  # noqa: E402
from bazof_spark.operators.tiffcodec import (  # noqa: E402
    COMP_LZW,
    COMP_PACKBITS,
    decode_tiff,
    encode_tiff,
    packbits_decode,
    packbits_encode,
    tiff_lzw_decode,
    tiff_lzw_encode,
)
from bazof_spark.operators.warc import html_to_text  # noqa: E402
from bazof_spark.operators.ziparchive import build_zip, parse_zip  # noqa: E402

_FAST = settings(max_examples=40, deadline=None)

samples16 = st.lists(
    st.integers(-32768, 32767), min_size=1, max_size=800
).map(lambda xs: np.array(xs, dtype=np.int16))


@_FAST
@given(samples16, st.booleans())
def test_flac_roundtrip_property(xs, lpc):
    sr, ch, dec = decode_flac(encode_flac(xs, 8000, force_lpc=lpc))
    assert (sr, ch) == (8000, 1) and np.array_equal(dec, xs)


@_FAST
@given(samples16, st.booleans())
def test_ogg_flac_roundtrip_property(xs, lpc):
    sr, ch, dec = decode_ogg_flac(encode_ogg_flac(xs, 8000, force_lpc=lpc))
    assert (sr, ch) == (8000, 1) and np.array_equal(dec, xs)


@_FAST
@given(samples16)
def test_adpcm_container_framing_property(xs):
    """Lossy codec, exact FRAMING: the WAV wrap must return exactly
    len(xs) samples whose values equal the nibble-level reference
    decode (the two independent paths agree on every input)."""
    _, _, dec = decode_wav(encode_wav_ima_adpcm(xs, block_align=256))
    assert len(dec) == len(xs)
    if len(xs) <= 505:  # single block: compare vs the nibble-level path
        first, nibs = encode_ima_nibbles(xs)
        assert np.array_equal(dec, decode_ima_nibbles(first, 0, nibs, len(xs)))


@_FAST
@given(
    st.integers(1, 12), st.integers(1, 12),
    st.sampled_from([3, 4]), st.randoms(use_true_random=False),
)
def test_qoi_roundtrip_property(h, w, ch, rnd):
    px = np.array(
        [rnd.randrange(256) for _ in range(h * w * ch)], dtype=np.uint8
    ).reshape(h, w, ch)
    dec = decode_qoi(encode_qoi(px))
    assert np.array_equal(dec, px)


@_FAST
@given(st.binary(min_size=0, max_size=5000))
def test_tiff_lzw_and_packbits_property(data):
    assert tiff_lzw_decode(tiff_lzw_encode(data), len(data)) == data
    assert packbits_decode(packbits_encode(data), len(data)) == data


@_FAST
@given(
    st.integers(1, 10), st.integers(1, 10), st.booleans(),
    st.sampled_from([COMP_LZW, COMP_PACKBITS]), st.integers(1, 5),
    st.randoms(use_true_random=False),
)
def test_tiff_roundtrip_property(h, w, gray, comp, rps, rnd):
    shape = (h, w) if gray else (h, w, 3)
    px = np.array(
        [rnd.randrange(256) for _ in range(int(np.prod(shape)))],
        dtype=np.uint8,
    ).reshape(shape)
    assert np.array_equal(decode_tiff(encode_tiff(px, comp, rps)), px)


@_FAST
@given(
    st.lists(
        st.tuples(st.integers(0, 999), st.binary(max_size=2000)),
        min_size=1, max_size=6,
    ),
    st.booleans(),
)
def test_zip_roundtrip_property(raw_members, compress):
    members = [
        (f"m{i}_{k}.bin", data) for i, (k, data) in enumerate(raw_members)
    ]
    out = parse_zip(build_zip(members, compress))
    assert [(m["name"], m["data"]) for m in out] == members


@_FAST
@given(st.lists(st.sampled_from(
    ["plain", "<b>", "</b>", "&amp;", "&#65;", "<script>x</script>",
     "<style>y</style>", "  ", "\n", "word"],
), max_size=30))
def test_html_to_text_never_leaks_script_or_tags(parts):
    text = html_to_text("".join(parts))
    assert "<" not in text and ">" not in text.replace("&gt;", "")
    assert "script" not in text and "style" not in text
    assert "  " not in text  # whitespace collapsed


# --- session-5 family: VP8L, G.711, containers ---------------------------

from bazof_spark.operators.g711codec import (  # noqa: E402
    g711_decode,
    g711_encode,
)
from bazof_spark.operators.mkvcontainer import (  # noqa: E402
    encode_mkv_mjpeg,
    parse_mkv,
)
from bazof_spark.operators.mp4container import (  # noqa: E402
    encode_mp4_mjpeg,
    parse_mp4,
)
from bazof_spark.operators.vp8lcodec import (  # noqa: E402
    decode_vp8l,
    encode_vp8l,
)


@_FAST
@given(samples16, st.sampled_from(["ulaw", "alaw"]))
def test_g711_requantization_property(xs, law):
    """decode∘encode is a projection: re-encoding the decoded signal
    reproduces the same codes (companding fixpoint)."""
    s = np.asarray(xs, dtype=np.int16)
    codes = g711_encode(s, law)
    assert g711_encode(g711_decode(codes, law), law) == codes


@_FAST
@given(
    st.lists(st.binary(min_size=1, max_size=300), min_size=1, max_size=9),
    st.integers(1, 5),
)
def test_mp4_sample_table_property(frames, spc):
    meta = parse_mp4(
        encode_mp4_mjpeg(frames, 8, 8, samples_per_chunk=spc)
    )
    assert meta["frames"] == frames


@_FAST
@given(
    st.lists(st.binary(min_size=1, max_size=300), min_size=1, max_size=9),
    st.integers(1, 4),
)
def test_mkv_block_property(frames, fpc):
    meta = parse_mkv(
        encode_mkv_mjpeg(frames, 8, 8, frames_per_cluster=fpc)
    )
    assert meta["frames"] == frames


@_FAST
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.randoms(use_true_random=False),
    st.sampled_from(["plain", "sg", "pred", "palette", "cache"]),
)
def test_vp8l_roundtrip_property(h, w, rnd, variant):
    px = np.array(
        [[rnd.randrange(256) for _ in range(w * 4)] for _ in range(h)],
        dtype=np.uint8,
    ).reshape(h, w, 4)
    kw = {}
    if variant == "sg":
        kw = {"use_subtract_green": True}
    elif variant == "pred":
        kw = {"predictor_mode": rnd.randrange(14)}
    elif variant == "palette":
        # palette needs <=256 distinct colors: quantize to 8 values
        px = (px // 32) * 32
        kw = {"palette": True}
    elif variant == "cache":
        kw = {"cache_bits": 1 + rnd.randrange(8)}
    out = decode_vp8l(encode_vp8l(px, **kw))
    assert (out == px).all()
