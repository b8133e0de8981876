"""From-spec parquet footer parser vs pyarrow — the C implementation
that wrote the file is the ground truth for every field the thrift
decoder extracts (operators/parquetmeta.py). No Spark session."""

import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.operators.parquetmeta import (  # noqa: E402
    decode_int32_stat,
    decode_int64_stat,
    parse_footer_blob,
    parse_parquet_footer,
)


def _pin_file(path_or_bytes):
    if isinstance(path_or_bytes, (bytes, bytearray)):
        data = bytes(path_or_bytes)
        ref = pq.ParquetFile(pa.BufferReader(data)).metadata
    else:
        data = open(path_or_bytes, "rb").read()
        ref = pq.ParquetFile(path_or_bytes).metadata
    mine = parse_parquet_footer(data)
    assert mine["num_rows"] == ref.num_rows
    assert len(mine["row_groups"]) == ref.num_row_groups
    assert mine["created_by"] == ref.created_by
    # the first schema element is the root; leaves follow in order
    leaves = [e for e in mine["schema"][1:] if not e["num_children"]]
    assert len(leaves) == ref.num_columns
    for gi in range(ref.num_row_groups):
        g, rg = mine["row_groups"][gi], ref.row_group(gi)
        assert g["num_rows"] == rg.num_rows
        assert g["total_byte_size"] == rg.total_byte_size
        assert len(g["columns"]) == rg.num_columns
        for ci in range(rg.num_columns):
            c, rc = g["columns"][ci], rg.column(ci)
            assert ".".join(c["path_in_schema"]) == rc.path_in_schema
            # parquet.thrift id 7 is LZ4_RAW; pyarrow displays it "LZ4"
            assert c["codec"] == rc.compression or (
                c["codec"] == "LZ4_RAW" and rc.compression == "LZ4"
            )
            assert c["type"] == rc.physical_type
            assert c["num_values"] == rc.num_values
            assert c["data_page_offset"] == rc.data_page_offset
            assert c["dictionary_page_offset"] == rc.dictionary_page_offset
            assert c["total_compressed_size"] == rc.total_compressed_size
            assert (
                c["total_uncompressed_size"] == rc.total_uncompressed_size
            )
            assert sorted(c["encodings"]) == sorted(
                str(e) for e in rc.encodings
            )
            st, rst = c["statistics"], rc.statistics
            if rst is not None and rst.has_null_count:
                assert st["null_count"] == rst.null_count
    return mine


def test_every_testdata_file_pins_to_pyarrow():
    paths = sorted(glob.glob("/root/testdata/sf0.001/*.parquet"))
    assert paths
    for p in paths:
        _pin_file(p)


def test_reference_golden_files_pin_to_their_writer(reference_data):
    """The reference's own data files were written by arrow-rs — a
    THIRD writer implementation; the from-spec reader must parse those
    too."""
    paths = sorted(
        glob.glob(os.path.join(reference_data, "*", "*.parquet"))
    )
    assert paths
    for p in paths:
        _pin_file(p)


@pytest.mark.parametrize(
    "codec", ["none", "snappy", "gzip", "zstd", "lz4"]
)
def test_codec_and_multi_row_group_fixtures(codec, tmp_path):
    t = pa.table(
        {
            "k": pa.array(
                [f"key{i:03d}" for i in range(300)], type=pa.string()
            ),
            "v32": pa.array(
                [i * 3 - 50 for i in range(300)], type=pa.int32()
            ),
            "v64": pa.array(
                [i * 7 - 1000 for i in range(300)], type=pa.int64()
            ),
            "d": pa.array(
                [i / 7.0 for i in range(300)], type=pa.float64()
            ),
            "n": pa.array(
                [None if i % 5 == 0 else i for i in range(300)],
                type=pa.int64(),
            ),
        }
    )
    p = tmp_path / f"f_{codec}.parquet"
    pq.write_table(t, p, compression=codec, row_group_size=64)
    mine = _pin_file(str(p))
    assert len(mine["row_groups"]) == 5
    # INT64/INT32 min/max statistics decode to the true extremes
    g0 = mine["row_groups"][0]
    by_path = {
        ".".join(c["path_in_schema"]): c for c in g0["columns"]
    }
    assert decode_int32_stat(by_path["v32"]["statistics"]["min_value"]) == -50
    assert (
        decode_int32_stat(by_path["v32"]["statistics"]["max_value"])
        == 63 * 3 - 50
    )
    assert decode_int64_stat(by_path["v64"]["statistics"]["min_value"]) == -1000
    assert by_path["n"]["statistics"]["null_count"] == 13  # 0,5,..,60


def test_nested_schema_and_kv_metadata(tmp_path):
    t = pa.table(
        {
            "s": pa.array(
                [{"a": i, "b": f"x{i}"} for i in range(10)],
                type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
            "l": pa.array(
                [[i, i + 1] for i in range(10)],
                type=pa.list_(pa.int32()),
            ),
        }
    )
    p = tmp_path / "nested.parquet"
    pq.write_table(t, p)
    mine = _pin_file(str(p))
    names = [e["name"] for e in mine["schema"]]
    assert "s" in names and "a" in names and "b" in names
    # pandas-free pyarrow still stamps ARROW:schema into key-value md
    assert any(
        k is not None for k in mine["key_value_metadata"]
    ) or mine["key_value_metadata"] == {}


def test_rejects_non_parquet_and_truncated():
    with pytest.raises(ValueError, match="PAR1"):
        parse_parquet_footer(b"not a parquet file at all....")
    with pytest.raises(ValueError):
        parse_footer_blob(b"\x19")  # field header then EOF
    # footer length pointing past the header magic
    bad = b"PAR1" + b"\x00" * 4 + (999).to_bytes(4, "little") + b"PAR1"
    with pytest.raises(ValueError, match="footer length"):
        parse_parquet_footer(bad)


def test_repo_written_lakehouse_files_pin(tmp_path, reference_data):
    """Files the repo's own writer commits (Spark's parquet writer —
    the JVM implementation, a second writer family) parse and pin."""
    import shutil

    src = sorted(
        glob.glob(os.path.join(reference_data, "financials", "*.parquet"))
    )
    # plus a pyarrow rewrite with tiny row groups (many-group footer)
    p = tmp_path / "many_groups.parquet"
    pq.write_table(pq.read_table(src[0]), p, row_group_size=16)
    mine = _pin_file(str(p))
    assert len(mine["row_groups"]) > 10
    shutil  # noqa: B018  (kept: symmetry with sibling fixtures)


def test_page_index_parses_and_matches_data():
    """OffsetIndex/ColumnIndex (round 11 — the structures page-level
    predicate pushdown prunes with at 100 TB scale): pinned THREE ways
    with no pyarrow page-index API to lean on — (1) structurally,
    every OffsetIndex offset starts a parseable PageHeader whose
    header+body span equals compressed_page_size; (2) data-derived,
    each page's ColumnIndex min/max/null_count equals the bounds of
    the values pyarrow decodes for that page's first_row_index span;
    (3) cross-layout, v1/v2 pages × int64/string × multi row
    groups."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bazof_spark.operators.parquetmeta import (
        decode_int64_stat,
        parse_column_index,
        parse_offset_index,
        parse_parquet_footer,
    )
    from bazof_spark.operators.thriftcodec import get_field, parse_struct

    ints = [None if i % 7 == 6 else (i * 37) % 1000 for i in range(10000)]
    strs = [None if i % 9 == 8 else f"s{(i * 13) % 500:04d}" for i in range(10000)]
    t = pa.table(
        {
            "a": pa.array(ints, type=pa.int64()),
            "s": pa.array(strs, type=pa.string()),
        }
    )
    for kw in ({}, {"data_page_version": "2.0", "compression": "zstd"}):
        buf = io.BytesIO()
        pq.write_table(
            t, buf, write_page_index=True, row_group_size=4096,
            data_page_size=512, use_dictionary=False, **kw,
        )
        data = buf.getvalue()
        meta = parse_parquet_footer(data)
        back = pq.read_table(pa.BufferReader(data), columns=["a", "s"])
        # BYTE_ARRAY bounds are raw bytes: compare strings as binary
        decoded = {
            "a": back["a"].to_pylist(),
            "s": back["s"].cast(pa.binary()).to_pylist(),
        }
        row_base = 0
        for g in meta["row_groups"]:
            for chunk in g["columns"]:
                (col,) = chunk["path_in_schema"]
                oi = parse_offset_index(data, chunk)
                ci = parse_column_index(data, chunk)
                assert oi and ci
                assert len(oi) == len(ci["min_values"]) == len(ci["null_pages"])
                assert len(oi) > 1  # data_page_size=512 forces multi-page
                for k, p in enumerate(oi):
                    hdr, end = parse_struct(data, p["offset"])
                    assert get_field(hdr, 1) in (0, 3), kw  # data page v1/v2
                    assert (
                        (end - p["offset"]) + get_field(hdr, 3)
                        == p["compressed_page_size"]
                    )
                    lo = row_base + p["first_row_index"]
                    hi = row_base + (
                        oi[k + 1]["first_row_index"]
                        if k + 1 < len(oi)
                        else g["num_rows"]
                    )
                    page_vals = [
                        v for v in decoded[col][lo:hi] if v is not None
                    ]
                    if ci["null_pages"][k]:
                        assert not page_vals
                        continue
                    if col == "a":
                        lo_v = decode_int64_stat(ci["min_values"][k])
                        hi_v = decode_int64_stat(ci["max_values"][k])
                    else:
                        lo_v, hi_v = ci["min_values"][k], ci["max_values"][k]
                    assert lo_v == min(page_vals) and hi_v == max(page_vals)
                    if ci["null_counts"]:
                        assert ci["null_counts"][k] == (hi - lo) - len(page_vals)
            row_base += g["num_rows"]


def test_page_index_absent_returns_none():
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bazof_spark.operators.parquetmeta import (
        parse_column_index,
        parse_offset_index,
        parse_parquet_footer,
    )

    t = pa.table({"a": pa.array(range(100), type=pa.int64())})
    buf = io.BytesIO()
    pq.write_table(t, buf, write_page_index=False)
    data = buf.getvalue()
    (chunk,) = parse_parquet_footer(data)["row_groups"][0]["columns"]
    assert parse_offset_index(data, chunk) is None
    assert parse_column_index(data, chunk) is None
