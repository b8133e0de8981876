"""From-spec parquet split-block bloom filters
(operators/parquetbloom + the thrift round-trip codec in
operators/thriftcodec): xxh64 against the published vectors, the
thrift codec byte-identical on footers from four independent writers,
our blooms honored by parquet-mr (Spark's reader probes them for
pushed equalities — a false negative would DROP rows), parquet-mr's
blooms honored by us (no false negatives on a Spark-written file),
every committed data file carrying a key bloom, and the Data Source
planner skipping row groups a scattered key layout's min/max bounds
cannot."""

import os
import struct
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.operators.parquetbloom import (  # noqa: E402
    append_blooms_bytes,
    might_contain,
    optimal_num_bytes,
    parse_bloom_blob,
    plain_encoded,
    xxh64,
)
from bazof_spark.operators.parquetmeta import (  # noqa: E402
    parse_parquet_footer,
)
from bazof_spark.operators.thriftcodec import (  # noqa: E402
    emit_struct,
    parse_struct,
)

def _footer_bytes(path):
    data = open(path, "rb").read()
    (n,) = struct.unpack("<I", data[-8:-4])
    return data[-8 - n : -8]


def test_xxh64_published_vectors():
    # seed-0 vectors from the public xxHash reference implementation
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    # >32 bytes exercises the 4-lane stripe loop; the value is pinned
    # transitively by the parquet-mr membership test below, this just
    # freezes it against regressions
    long = b"0123456789abcdef0123456789abcdef0123456789"
    assert xxh64(long) == xxh64(bytes(long))  # stable across buffer types


def test_thrift_roundtrip_byte_identical(tmp_path, spark, reference_data):
    """parse→emit reproduces footers from pyarrow, duckdb, parquet-mr
    (Spark JVM) and arrow-rs (the reference's own files) byte for
    byte — the property the bloom append leans on."""
    cases = {}
    p1 = str(tmp_path / "pyarrow.parquet")
    pq.write_table(
        pa.table({"key": ["a", "b"], "v": [1, 2]}),
        p1,
        write_page_index=True,
    )
    cases["pyarrow"] = p1
    p2 = str(tmp_path / "duck.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT range k, 'x' || range::VARCHAR s FROM range(300)) "
        f"TO '{p2}' (FORMAT PARQUET, ROW_GROUP_SIZE 128)"
    )
    cases["duckdb"] = p2
    d3 = str(tmp_path / "jvm")
    spark.range(100).selectExpr(
        "cast(id as string) key", "id v"
    ).coalesce(1).write.mode("overwrite").parquet(d3)
    (f3,) = [
        os.path.join(d3, f)
        for f in os.listdir(d3)
        if f.endswith(".parquet")
    ]
    cases["parquet-mr"] = f3
    cases["arrow-rs"] = os.path.join(
        reference_data, "financials", "year_2000_base.parquet"
    )
    for name, path in cases.items():
        blob = _footer_bytes(path)
        fields, end = parse_struct(blob)
        assert end == len(blob), name
        assert emit_struct(fields) == blob, name


@pytest.fixture(scope="module")
def spark_bloom_file(spark, tmp_path_factory):
    """parquet-mr writes the bloom: long keys exercise the xxh64
    stripe loop against the independent JVM implementation."""
    d = str(tmp_path_factory.mktemp("sb") / "t")
    (
        spark.range(0, 1500)
        .selectExpr(
            "concat('user-', repeat('x', 30), cast(id as string)) as key",
            "id as v",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#key", "true")
        .option("parquet.bloom.filter.expected.ndv#key", "1500")
        .parquet(d)
    )
    (f,) = [
        os.path.join(d, x) for x in os.listdir(d) if x.endswith(".parquet")
    ]
    return f


def test_reads_parquet_mr_bloom_without_false_negatives(spark_bloom_file):
    data = open(spark_bloom_file, "rb").read()
    foot = parse_parquet_footer(data)
    chunk = next(
        c
        for rg in foot["row_groups"]
        for c in rg["columns"]
        if c["path_in_schema"] == ["key"]
    )
    off, ln = chunk["bloom_filter_offset"], chunk["bloom_filter_length"]
    assert off and ln
    bitset = parse_bloom_blob(data[off : off + ln])
    keys = [f"user-{'x' * 30}{i}" for i in range(1500)]
    misses = [
        k
        for k in keys
        if not might_contain(bitset, xxh64(plain_encoded(k, "BYTE_ARRAY")))
    ]
    assert misses == []  # a bloom may lie positive, never negative
    fp = sum(
        might_contain(
            bitset, xxh64(plain_encoded(f"absent-{i}", "BYTE_ARRAY"))
        )
        for i in range(5000)
    )
    assert fp / 5000 < 0.05


@pytest.fixture(scope="module")
def patched_file(tmp_path_factory):
    """pyarrow writes the data, WE append the blooms."""
    path = str(tmp_path_factory.mktemp("pb") / "plain.parquet")
    t = pa.table(
        {
            "key": [str((i * 7) % 1000) for i in range(1000)],
            "v": list(range(1000)),
        }
    )
    pq.write_table(t, path, write_page_index=True, row_group_size=250)
    patched = append_blooms_bytes(open(path, "rb").read(), ("key",))
    out = str(tmp_path_factory.mktemp("pb2") / "bloomed.parquet")
    with open(out, "wb") as f:
        f.write(patched)
    return out


def test_appended_blooms_membership_and_foreign_readers(patched_file):
    data = open(patched_file, "rb").read()
    foot = parse_parquet_footer(data)
    pf = pq.ParquetFile(patched_file)
    for gi, rg in enumerate(foot["row_groups"]):
        c = next(
            c for c in rg["columns"] if c["path_in_schema"] == ["key"]
        )
        off, ln = c["bloom_filter_offset"], c["bloom_filter_length"]
        assert off and ln
        bitset = parse_bloom_blob(data[off : off + ln])
        vals = pf.read_row_group(gi, columns=["key"])["key"].to_pylist()
        assert all(
            might_contain(bitset, xxh64(plain_encoded(v, "BYTE_ARRAY")))
            for v in vals
        )
    # non-bloomed column untouched
    assert all(
        c["bloom_filter_offset"] is None
        for rg in foot["row_groups"]
        for c in rg["columns"]
        if c["path_in_schema"] == ["v"]
    )
    # pyarrow and duckdb read the patched file bit-identically
    before = pa.table(
        {
            "key": [str((i * 7) % 1000) for i in range(1000)],
            "v": list(range(1000)),
        }
    )
    assert pq.read_table(patched_file).equals(before)
    assert duckdb.connect().execute(
        f"SELECT count(*), sum(v) FROM '{patched_file}'"
    ).fetchall() == [(1000, 499500)]


def test_parquet_mr_probes_our_blooms(spark, patched_file):
    """Spark's vectorized reader bloom-probes pushed key equalities on
    its own (parquet.filter.bloom.enabled defaults on): if OUR bitset
    had a false negative or a layout error, the JVM would wrongly
    skip the row group and DROP the row."""
    df = spark.read.parquet(patched_file)
    for i in range(0, 1000, 37):
        k = str((i * 7) % 1000)
        assert df.filter(df.key == k).count() >= 1, k
    assert df.filter(df.key == "absent").count() == 0
    assert df.count() == 1000


def test_committed_data_files_carry_key_blooms(spark, tmp_path):
    """Every write site funnels through write_table_with_blooms: a
    freshly authored table's data files all carry a key bloom that
    admits their own keys."""
    from datetime import datetime, timezone

    from bazof_spark.lakehouse import Lakehouse
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter, append_delta

    t1 = datetime(2024, 5, 1, tzinfo=timezone.utc)
    t2 = datetime(2024, 6, 1, tzinfo=timezone.utc)
    path = str(tmp_path / "t")
    schema = TableSchema((ColumnDef("v", ColumnType.INT, False),))
    rows = spark.createDataFrame(
        [(f"k{i}", t1, i) for i in range(50)],
        "key string, event_time timestamp, v long",
    )
    w = TableWriter(spark, path, schema)
    seg = w.add_segment("s1", t1)
    seg.add_delta(rows, t1, t1)
    w.commit()
    append_delta(
        spark,
        path,
        spark.createDataFrame(
            [("k7", t2, 700)], "key string, event_time timestamp, v long"
        ),
    )
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) >= 2
    for f in files:
        data = open(os.path.join(path, f), "rb").read()
        foot = parse_parquet_footer(data)
        for rg in foot["row_groups"]:
            c = next(
                c for c in rg["columns"] if c["path_in_schema"] == ["key"]
            )
            assert c["bloom_filter_offset"], f
            bitset = parse_bloom_blob(
                data[
                    c["bloom_filter_offset"] : c["bloom_filter_offset"]
                    + c["bloom_filter_length"]
                ]
            )
            pf = pq.ParquetFile(os.path.join(path, f))
            vals = pf.read_row_group(0, columns=["key"])["key"].to_pylist()
            assert all(
                might_contain(
                    bitset, xxh64(plain_encoded(v, "BYTE_ARRAY"))
                )
                for v in vals
            )
    # and the table still reads correctly through the merge
    lh = Lakehouse(spark, str(tmp_path))
    got = {r["key"]: r["v"] for r in lh.scan("t").collect()}
    assert got["k7"] == 700 and len(got) == 50


def test_planner_bloom_skips_scattered_groups(tmp_path):
    """A hash-scattered key layout defeats min/max pruning (every
    group spans the whole key range) but not the bloom: a point
    probe keeps only the group actually holding the key."""
    from bazof_spark.datasource import _file_batches

    n, per_group = 1000, 250
    # group g holds keys ending in digit pattern distinct per group:
    # key i lives in group i % 4, so each group's min/max covers the
    # full range
    order = sorted(range(n), key=lambda i: (i % 4, i))
    t = pa.table(
        {
            "key": [str(order[i]) for i in range(n)],
            "v": [order[i] for i in range(n)],
        }
    )
    src = str(tmp_path / "scattered.parquet")
    pq.write_table(
        t, src, write_page_index=True, row_group_size=per_group
    )
    patched = append_blooms_bytes(open(src, "rb").read(), ("key",))
    path = str(tmp_path / "scattered_bloom.parquet")
    with open(path, "wb") as f:
        f.write(patched)

    schema = pa.schema(
        [
            pa.field("key", pa.string()),
            pa.field("v", pa.int64()),
            pa.field("_rank", pa.int64()),
            pa.field("_row_idx", pa.int64()),
        ]
    )
    stats = {}
    tables = list(
        _file_batches(
            path,
            0,
            ["key", "v"],
            ["key", "v", "_rank", "_row_idx"],
            schema,
            pushed=[("equal", "key", "17")],  # lives in group 17%4=1
            prune_stats=stats,
        )
    )
    got = pa.concat_tables(tables)
    keys = got.column("key").to_pylist()
    assert "17" in keys
    # 3 of 4 groups skipped by the bloom alone (min/max admits all 4)
    assert stats.get("groups_bloom_skipped") == 3
    assert len(keys) <= per_group


def test_optimal_sizing_power_of_two_and_clamped():
    assert optimal_num_bytes(0) == 32
    for ndv in (1, 100, 5000, 10**9):
        nb = optimal_num_bytes(ndv)
        assert nb & (nb - 1) == 0  # power of two
        assert 32 <= nb <= 1 << 20
    assert optimal_num_bytes(10**9) == 1 << 20


def test_validate_table_flags_corrupt_bloom(spark, tmp_path):
    """validate_table's bloom-integrity pass: a clean table reports
    nothing; a ZEROED bitset (denies every key — the false-negative
    failure class) is an ERROR; a garbled header is a WARNING
    (readers just stop pruning)."""
    from datetime import datetime, timezone

    from bazof_spark.lakehouse import Lakehouse
    from bazof_spark.maintenance import validate_table
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter

    t1 = datetime(2024, 5, 1, tzinfo=timezone.utc)
    path = str(tmp_path / "t")
    schema = TableSchema((ColumnDef("v", ColumnType.INT, False),))
    w = TableWriter(spark, path, schema)
    seg = w.add_segment("s1", t1)
    seg.add_delta(
        spark.createDataFrame(
            [(f"k{i}", t1, i) for i in range(40)],
            "key string, event_time timestamp, v long",
        ),
        t1, t1,
    )
    w.commit()
    lh = Lakehouse(spark, str(tmp_path))
    clean = validate_table(lh, "t")
    assert not clean.errors
    assert not any("bloom" in w_ for w_ in clean.warnings)

    (f,) = [x for x in os.listdir(path) if x.endswith(".parquet")]
    fp = os.path.join(path, f)
    data = bytearray(open(fp, "rb").read())
    foot = parse_parquet_footer(bytes(data))
    chunk = next(
        c
        for rg in foot["row_groups"]
        for c in rg["columns"]
        if c["path_in_schema"] == ["key"]
    )
    off, ln = chunk["bloom_filter_offset"], chunk["bloom_filter_length"]

    # zero the bitset (header intact): every probe denies
    header_len = ln - 32  # can't know exactly; recompute via parser
    bitset = parse_bloom_blob(bytes(data[off : off + ln]))
    header_len = ln - len(bitset)
    data[off + header_len : off + ln] = bytes(len(bitset))
    open(fp, "wb").write(bytes(data))
    bad = validate_table(lh, "t")
    assert any("DENIED" in e for e in bad.errors), bad.errors

    # garble the header: unreadable blob -> warning, not error
    data[off : off + 4] = b"\xff\xff\xff\xff"
    open(fp, "wb").write(bytes(data))
    garbled = validate_table(lh, "t")
    assert any("unreadable" in w_ for w_ in garbled.warnings), (
        garbled.warnings
    )
    assert not any("DENIED" in e for e in garbled.errors)
