"""From-spec parquet COLUMN decode vs pyarrow — footer + PageHeader
thrift + RLE/bit-packed hybrid levels + PLAIN/dictionary values +
in-repo codec twins, end-to-end equality on the decoded value lists.
No Spark session."""

import glob
import io
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.operators.parquetpages import read_column  # noqa: E402


def _roundtrip(table, name, **kw):
    buf = io.BytesIO()
    pq.write_table(table, buf, **kw)
    data = buf.getvalue()
    mine = read_column(data, name)
    ref = pq.read_table(pa.BufferReader(data)).column(name).to_pylist()
    if mine and isinstance(mine[0], bytes) and ref and isinstance(ref[0], str):
        mine = [None if v is None else v.decode() for v in mine]
    assert mine == ref, (name, kw)


def _fixture_table():
    return pa.table(
        {
            "i64": pa.array(
                [i * 7 - 100 for i in range(500)], type=pa.int64()
            ),
            "i32": pa.array(
                [i - 250 for i in range(500)], type=pa.int32()
            ),
            "f": pa.array([i / 5.0 for i in range(500)], type=pa.float32()),
            "d": pa.array([i / 3.0 for i in range(500)], type=pa.float64()),
            "s": pa.array(
                [f"str{i % 37}" for i in range(500)], type=pa.string()
            ),
            "n": pa.array(
                [None if i % 5 == 0 else i for i in range(500)],
                type=pa.int64(),
            ),
            "b": pa.array([i % 3 == 0 for i in range(500)], type=pa.bool_()),
        }
    )


@pytest.mark.parametrize(
    "kw",
    [
        {},  # pyarrow defaults: dictionary + snappy, v1 pages
        {"use_dictionary": False},  # PLAIN values
        {"compression": "zstd", "row_group_size": 64},
        {"compression": "gzip", "use_dictionary": False},
        {"compression": "lz4", "data_page_version": "2.0"},
        {
            "compression": "none",
            "data_page_version": "2.0",
            "use_dictionary": False,
        },
        {
            "compression": "snappy",
            "data_page_version": "2.0",
            "row_group_size": 50,
        },
    ],
    ids=lambda kw: "+".join(f"{k}={v}" for k, v in kw.items()) or "defaults",
)
def test_every_type_decodes_under_every_layout(kw):
    t = _fixture_table()
    for col in t.column_names:
        _roundtrip(t, col, **kw)


def test_every_corpus_column_decodes():
    """Every flat column of every testdata table — production
    dictionary-encoded snappy files — decodes to pyarrow's exact
    values; timestamp columns compare on their INT64 physical view."""
    for path in sorted(glob.glob("/root/testdata/sf0.001/*.parquet")):
        data = open(path, "rb").read()
        ref_t = pq.read_table(path)
        for name, field in zip(ref_t.column_names, ref_t.schema):
            if pa.types.is_nested(field.type) or pa.types.is_decimal(
                field.type
            ):
                continue
            mine = read_column(data, name)
            col = ref_t.column(name)
            if pa.types.is_timestamp(field.type):
                unit = field.type.unit
                ref = col.cast(pa.timestamp(unit)).cast(pa.int64()).to_pylist()
            elif pa.types.is_date(field.type):
                ref = col.cast(pa.int32()).to_pylist()
            else:
                ref = col.to_pylist()
            if (
                mine
                and isinstance(mine[0], bytes)
                and ref
                and isinstance(ref[0], str)
            ):
                mine = [None if v is None else v.decode() for v in mine]
            assert mine == ref, (path, name)


def test_reference_golden_columns_decode(reference_data):
    """The reference's arrow-rs-written goldens (a third writer): the
    financials value columns decode end-to-end."""
    path = os.path.join(reference_data, "financials", "year_2000_base.parquet")
    data = open(path, "rb").read()
    ref_t = pq.read_table(path)
    for name, field in zip(ref_t.column_names, ref_t.schema):
        if pa.types.is_nested(field.type) or pa.types.is_timestamp(
            field.type
        ):
            continue
        mine = read_column(data, name)
        ref = ref_t.column(name).to_pylist()
        if mine and isinstance(mine[0], bytes) and isinstance(ref[0], str):
            mine = [None if v is None else v.decode() for v in mine]
        assert mine == ref, name


def test_nested_and_unknown_raise_cleanly():
    t2 = pa.table({"a": pa.array([1, 2, 3], type=pa.int64())})
    buf2 = io.BytesIO()
    pq.write_table(t2, buf2)
    with pytest.raises(ValueError, match="not in schema"):
        read_column(buf2.getvalue(), "missing")
    # a multi-field group needs a dotted leaf path
    st = pa.table(
        {"g": pa.array([{"x": 1, "y": 2}], type=pa.struct([("x", pa.int64()), ("y", pa.int64())]))}
    )
    buf3 = io.BytesIO()
    pq.write_table(st, buf3)
    with pytest.raises(NotImplementedError, match="dotted"):
        read_column(buf3.getvalue(), "g")


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-(2**62), 2**62)), max_size=300
    ),
    dict_enc=st.booleans(),
    codec=st.sampled_from(["snappy", "zstd", "none"]),
    v2=st.booleans(),
    rgs=st.integers(1, 64),
)
def test_property_int64_roundtrip(vals, dict_enc, codec, v2, rgs):
    t = pa.table({"a": pa.array(vals, type=pa.int64())})
    buf = io.BytesIO()
    pq.write_table(
        t, buf, use_dictionary=dict_enc, compression=codec,
        data_page_version="2.0" if v2 else "1.0", row_group_size=rgs,
    )
    assert read_column(buf.getvalue(), "a") == vals


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"use_dictionary": False},
        {"compression": "zstd", "data_page_version": "2.0"},
        {
            "compression": "none",
            "data_page_version": "2.0",
            "use_dictionary": False,
        },
    ],
    ids=lambda kw: "+".join(f"{k}={v}" for k, v in kw.items()) or "defaults",
)
def test_required_columns_decode(kw):
    """REQUIRED (nullable=False) flat columns: max definition level is
    0 and every def level is 0, so presence must be judged against
    max_def, not a hard-coded 1 — the r10 ADVICE defect where every
    REQUIRED value decoded as None."""
    schema = pa.schema(
        [
            pa.field("i", pa.int64(), nullable=False),
            pa.field("s", pa.string(), nullable=False),
            pa.field("d", pa.float64(), nullable=False),
            pa.field("b", pa.bool_(), nullable=False),
        ]
    )
    t = pa.table(
        {
            "i": [i * 3 - 7 for i in range(200)],
            "s": [f"v{i % 11}" for i in range(200)],
            "d": [i / 7.0 for i in range(200)],
            "b": [i % 2 == 0 for i in range(200)],
        },
        schema=schema,
    )
    for col in t.column_names:
        _roundtrip(t, col, **kw)


def test_nested_leaf_does_not_shadow_flat_column():
    """A nested leaf sharing the requested name must not shadow the
    top-level flat column (r10 ADVICE: _max_levels walked the
    flattened schema list without skipping group subtrees, so group
    child 'x' matched before top-level 'x')."""
    schema = pa.schema(
        [
            # the struct comes FIRST so its child 'x' precedes the
            # top-level 'x' in the flattened schema list
            pa.field(
                "g",
                pa.struct([pa.field("x", pa.int64(), nullable=True)]),
            ),
            pa.field("x", pa.int64(), nullable=False),
        ]
    )
    t = pa.table(
        {
            "g": [{"x": i} for i in range(50)],
            "x": list(range(50)),
        },
        schema=schema,
    )
    buf = io.BytesIO()
    pq.write_table(t, buf)
    # REQUIRED top-level x: shadowed lookup would report max_def 1 and
    # misparse the page body as a level run
    assert read_column(buf.getvalue(), "x") == list(range(50))


LIST_LAYOUTS = [
    {},
    {"use_dictionary": False},
    {"compression": "zstd", "data_page_version": "2.0"},
    {"compression": "gzip", "row_group_size": 17},
    {
        "compression": "none",
        "data_page_version": "2.0",
        "use_dictionary": False,
    },
    {"compression": "lz4", "data_page_version": "2.0", "row_group_size": 23},
    {"compression": "snappy", "use_dictionary": False, "row_group_size": 50},
]


@pytest.mark.parametrize(
    "kw",
    LIST_LAYOUTS,
    ids=lambda kw: "+".join(f"{k}={v}" for k, v in kw.items()) or "defaults",
)
def test_list_columns_decode_under_every_layout(kw):
    """Round-11 tier: ONE repetition level — null lists, empty lists,
    null elements, and values assemble back via the Dremel rules,
    across v1/v2 pages, dictionary/PLAIN, all codecs, and row-group
    splits that cut between records."""
    vals = [None, [], [1, 2, 3], [None], [4], [5, None, 6], [], None] * 30
    t = pa.table({"l": pa.array(vals, type=pa.list_(pa.int64()))})
    buf = io.BytesIO()
    pq.write_table(t, buf, **kw)
    assert read_column(buf.getvalue(), "l") == vals

    sv = [None, ["a", "bb"], [], ["c", None], ["ddd"]] * 24
    t2 = pa.table({"s": pa.array(sv, type=pa.list_(pa.string()))})
    buf2 = io.BytesIO()
    pq.write_table(t2, buf2, **kw)
    mine = [
        None if v is None else [None if x is None else x.decode() for x in v]
        for v in read_column(buf2.getvalue(), "s")
    ]
    assert mine == sv


def test_non_nullable_list_layouts():
    """2-level-adjacent shapes: non-nullable list field and
    non-nullable elements change the repeated node's def threshold."""
    schema = pa.schema(
        [
            pa.field(
                "l",
                pa.list_(pa.field("element", pa.int64(), nullable=False)),
                nullable=False,
            )
        ]
    )
    vals = [[1, 2], [], [3], [4, 5, 6], []] * 20
    t = pa.table({"l": pa.array(vals)}, schema=schema)
    for kw in ({}, {"use_dictionary": False, "data_page_version": "2.0"}):
        buf = io.BytesIO()
        pq.write_table(t, buf, **kw)
        assert read_column(buf.getvalue(), "l") == vals, kw


def test_struct_members_decode_via_dotted_path():
    st = pa.table(
        {
            "g": pa.array(
                [
                    None if i % 4 == 0 else {"x": i if i % 3 else None, "y": f"v{i}"}
                    for i in range(120)
                ],
                type=pa.struct([("x", pa.int64()), ("y", pa.string())]),
            ),
            # a same-named flat column must not be shadowed by g.x
            "x": pa.array(range(120), type=pa.int64()),
        }
    )
    buf = io.BytesIO()
    pq.write_table(st, buf)
    data = buf.getvalue()
    recs = st.column("g").to_pylist()
    assert read_column(data, "g.x") == [
        None if r is None else r["x"] for r in recs
    ]
    assert [v.decode() for v in read_column(data, "g.y") if v] == [
        r["y"] for r in recs if r
    ]
    assert read_column(data, "x") == list(range(120))


def test_delta_binary_packed_decodes():
    """DELTA_BINARY_PACKED: random 41-bit signed int64s (multi-block,
    mixed miniblock widths), a pure ramp (RLE-like min-delta only),
    int32, negatives, and a nullable column where the encoding carries
    only the present values."""
    import random

    rng = random.Random(7)
    big = [rng.randint(-(2**40), 2**40) for _ in range(5000)]
    nullable = [None if i % 7 == 0 else i * 3 - 1000 for i in range(3000)]
    t = pa.table(
        {
            "a": pa.array(big, type=pa.int64()),
            "ramp": pa.array(range(5000), type=pa.int64()),
            "b": pa.array(
                [i - 2500 for i in range(5000)], type=pa.int32()
            ),
            "n": pa.array(nullable + [None] * 2000, type=pa.int64()),
        }
    )
    buf = io.BytesIO()
    pq.write_table(
        t,
        buf,
        use_dictionary=False,
        column_encoding={c: "DELTA_BINARY_PACKED" for c in t.column_names},
        compression="snappy",
    )
    data = buf.getvalue()
    assert read_column(data, "a") == big
    assert read_column(data, "ramp") == list(range(5000))
    assert read_column(data, "b") == [i - 2500 for i in range(5000)]
    assert read_column(data, "n") == nullable + [None] * 2000


@settings(max_examples=30, deadline=None)
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(st.none(), st.integers(-(2**50), 2**50)),
                max_size=6,
            ),
        ),
        max_size=120,
    ),
    codec=st.sampled_from(["snappy", "zstd", "none"]),
    v2=st.booleans(),
    rgs=st.integers(1, 40),
)
def test_property_list_roundtrip(vals, codec, v2, rgs):
    t = pa.table({"l": pa.array(vals, type=pa.list_(pa.int64()))})
    buf = io.BytesIO()
    pq.write_table(
        t, buf, compression=codec,
        data_page_version="2.0" if v2 else "1.0", row_group_size=rgs,
    )
    assert read_column(buf.getvalue(), "l") == vals


def test_remaining_v2_encodings_decode():
    """DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY (front coding) and
    BYTE_STREAM_SPLIT — pinned against pyarrow across codecs, page
    versions, nullable columns and row-group splits."""
    strings = [
        None if i % 9 == 8 else f"prefix_common_{i % 13}_tail{i}"
        for i in range(3000)
    ]
    floats = [None if i % 11 == 10 else i / 7.0 for i in range(3000)]
    f32 = [float(i % 251) for i in range(3000)]
    t = pa.table(
        {
            "dl": pa.array(strings, type=pa.string()),
            "db": pa.array(strings, type=pa.string()),
            "bs": pa.array(floats, type=pa.float64()),
            "bs32": pa.array(f32, type=pa.float32()),
        }
    )
    for kw in (
        {"compression": "snappy"},
        {"compression": "zstd", "data_page_version": "2.0"},
        {"compression": "none", "row_group_size": 700},
    ):
        buf = io.BytesIO()
        pq.write_table(
            t,
            buf,
            use_dictionary=False,
            column_encoding={
                "dl": "DELTA_LENGTH_BYTE_ARRAY",
                "db": "DELTA_BYTE_ARRAY",
                "bs": "BYTE_STREAM_SPLIT",
                "bs32": "BYTE_STREAM_SPLIT",
            },
            **kw,
        )
        data = buf.getvalue()
        for col in ("dl", "db"):
            mine = [
                None if v is None else v.decode()
                for v in read_column(data, col)
            ]
            assert mine == strings, (col, kw)
        assert read_column(data, "bs") == floats, kw
        got32 = read_column(data, "bs32")
        ref32 = t.column("bs32").to_pylist()
        assert got32 == ref32, kw


def test_fixed_len_byte_array_and_int96_decode():
    """The last physical types: FIXED_LEN_BYTE_ARRAY values (decimals,
    fixed binary) come back as their exact raw payload — the decimal
    interpretation (big-endian scaled int) is checked against the
    source values — and legacy INT96 timestamps as raw 12-byte
    nanos-in-day + julian-day, converted and pinned against the source
    datetimes. Dictionary and PLAIN paths, v1/v2 pages."""
    import datetime
    import decimal

    decs = [
        None if i % 8 == 7 else decimal.Decimal(f"{i * 3}.25")
        for i in range(200)
    ]
    fixed = [
        None if i % 9 == 8 else bytes(
            [i % 256, (i + 1) % 256, (i + 2) % 256, (i + 3) % 256]
        )
        for i in range(200)
    ]
    t = pa.table(
        {
            "dec": pa.array(decs, type=pa.decimal128(9, 2)),
            "fb": pa.array(fixed, type=pa.binary(4)),
        }
    )
    for kw in (
        {"use_dictionary": False},
        {},
        {
            "use_dictionary": False,
            "data_page_version": "2.0",
            "compression": "zstd",
        },
    ):
        buf = io.BytesIO()
        pq.write_table(t, buf, **kw)
        data = buf.getvalue()
        assert read_column(data, "fb") == fixed, kw
        got = [
            None if b is None else int.from_bytes(b, "big", signed=True)
            for b in read_column(data, "dec")
        ]
        assert got == [
            None if d is None else int(d * 100) for d in decs
        ], kw

    ts = [
        datetime.datetime(2024, 1, 1, 12) + datetime.timedelta(seconds=i * 977)
        for i in range(300)
    ]
    t2 = pa.table({"ts": pa.array(ts)})

    def int96_to_dt(b):
        nanos = int.from_bytes(b[:8], "little")
        jday = int.from_bytes(b[8:], "little")
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            days=jday - 2440588, microseconds=nanos // 1000
        )

    for kw in ({"use_dictionary": False}, {}):
        buf = io.BytesIO()
        pq.write_table(t2, buf, use_deprecated_int96_timestamps=True, **kw)
        assert [int96_to_dt(b) for b in read_column(buf.getvalue(), "ts")] == ts


def test_flba_leaf_width_not_shadowed():
    """A same-named FLBA leaf inside a group must not supply the
    top-level column's type_length (the width comes off the leaf
    element _resolve_path actually matched)."""
    schema = pa.schema(
        [
            pa.field("g", pa.struct([pa.field("x", pa.binary(8))])),
            pa.field("x", pa.binary(2)),
        ]
    )
    t = pa.table(
        {
            "g": [{"x": bytes([i] * 8)} for i in range(40)],
            "x": [bytes([i, i + 1]) for i in range(40)],
        },
        schema=schema,
    )
    buf = io.BytesIO()
    pq.write_table(t, buf, use_dictionary=False)
    data = buf.getvalue()
    assert read_column(data, "x") == [bytes([i, i + 1]) for i in range(40)]
    assert read_column(data, "g.x") == [bytes([i] * 8) for i in range(40)]


def test_lists_nest_to_arbitrary_depth():
    """Round-11 generalization: the stack-based Dremel assembly
    reconstructs list<list> and list<list<list>> — null/empty/values
    at every depth — plus REQUIRED inner lists/elements (shifted def
    thresholds), across layouts."""
    ll = [None, [], [[1, 2], None, []], [[None, 3]], [[4]], [[], [5, 6, 7]]] * 25
    t = pa.table({"n": pa.array(ll, type=pa.list_(pa.list_(pa.int64())))})
    for kw in (
        {},
        {"use_dictionary": False},
        {
            "data_page_version": "2.0",
            "compression": "zstd",
            "row_group_size": 13,
        },
    ):
        buf = io.BytesIO()
        pq.write_table(t, buf, **kw)
        assert read_column(buf.getvalue(), "n") == ll, kw

    lll = [None, [], [[[1], []], None], [[[None, 2], [3]]], [[[]]]] * 20
    t3 = pa.table(
        {"m": pa.array(lll, type=pa.list_(pa.list_(pa.list_(pa.int64()))))}
    )
    buf = io.BytesIO()
    pq.write_table(t3, buf)
    assert read_column(buf.getvalue(), "m") == lll

    schema = pa.schema(
        [
            pa.field(
                "q",
                pa.list_(
                    pa.field(
                        "element",
                        pa.list_(
                            pa.field("element", pa.int64(), nullable=False)
                        ),
                        nullable=False,
                    )
                ),
            )
        ]
    )
    qv = [None, [[1, 2], [3]], [[], [4]], []] * 30
    t4 = pa.table({"q": pa.array(qv)}, schema=schema)
    buf = io.BytesIO()
    pq.write_table(t4, buf, use_dictionary=False)
    assert read_column(buf.getvalue(), "q") == qv


@settings(max_examples=25, deadline=None)
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.none(),
                    st.lists(
                        st.one_of(st.none(), st.integers(-1000, 1000)),
                        max_size=4,
                    ),
                ),
                max_size=4,
            ),
        ),
        max_size=60,
    ),
    v2=st.booleans(),
    rgs=st.integers(1, 30),
)
def test_property_nested_list_roundtrip(vals, v2, rgs):
    t = pa.table(
        {"n": pa.array(vals, type=pa.list_(pa.list_(pa.int64())))}
    )
    buf = io.BytesIO()
    pq.write_table(
        t, buf, data_page_version="2.0" if v2 else "1.0", row_group_size=rgs,
    )
    assert read_column(buf.getvalue(), "n") == vals


def test_single_field_group_requires_dotted_path():
    """A one-field struct addressed by its group name raises like
    multi-field groups do (implicit descent would flatten it and
    conflate struct-null with member-null); its dotted leaf path and
    both list wrapper layouts keep working. read_columns decodes
    several columns with one footer parse."""
    t = pa.table(
        {
            "g": pa.array(
                [None, {"x": 1}, {"x": None}],
                type=pa.struct([("x", pa.int64())]),
            ),
            "l": pa.array([[1], None, []], type=pa.list_(pa.int64())),
        }
    )
    buf = io.BytesIO()
    pq.write_table(t, buf)
    data = buf.getvalue()
    with pytest.raises(NotImplementedError, match="dotted"):
        read_column(data, "g")
    from bazof_spark.operators.parquetpages import read_columns

    got = read_columns(data, ["g.x", "l"])
    assert got["g.x"] == [None, 1, None]
    assert got["l"] == [[1], None, []]
