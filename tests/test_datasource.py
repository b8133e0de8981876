"""spark.read.format("bazof") — the Python Data Source surface must
agree with Lakehouse.scan (the native fast path) on the reference's
own golden tables, at Current and at every interesting as-of instant,
including file-precedence ties resolved by (_rank, _row_idx)."""

import contextlib
import os
import sys
from datetime import datetime, timedelta, timezone

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark import Lakehouse  # noqa: E402
from bazof_spark.datasource import BazofDataSource, read_table  # noqa: E402

def rows(df, cols=("key",)):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize(
    "table,as_of",
    [
        ("table0", None),
        ("table0", "2024-01-15T00:00:00.000Z"),
        ("table0", "2024-02-17T00:00:00.000Z"),
        ("financials", None),
        ("financials", "2019-01-17T00:00:00.000Z"),
        ("financials", "2020-06-01T00:00:00.000Z"),
    ],
)
def test_source_matches_native_scan(spark, reference_data, table, as_of):
    native = Lakehouse(spark, reference_data).scan(table, as_of=as_of)
    via_source = read_table(spark, reference_data, table, as_of=as_of)
    assert sorted(via_source.columns) == sorted(native.columns)
    assert rows(via_source.select(*native.columns)) == rows(native)


def test_raw_load_carries_rank_and_rowidx(spark, reference_data):
    spark.dataSource.register(BazofDataSource)
    df = (
        spark.read.format("bazof")
        .option("path", reference_data)
        .option("table", "table0")
        .load()
    )
    assert {"_rank", "_row_idx"} <= set(df.columns)
    # base + delta files present with distinct ranks
    assert df.select("_rank").distinct().count() == 2


def test_filter_pushdown_matches_postfilter(spark, reference_data):
    """Filters Catalyst pushes into the source (evaluated in the Arrow
    reader) must give exactly the rows a JVM-side post-filter gives,
    across comparison ops and types — including ones the reader
    declines (handed back to Spark)."""
    native = Lakehouse(spark, reference_data).scan(
        "financials", as_of="2020-06-01T00:00:00.000Z"
    )
    for cond in [
        "key = 'MSFT'",
        "revenue > 1000000000",
        "revenue <= 500000000",
        "industry = 'Software'",
        "key = 'MSFT' AND revenue > 0",
        "key LIKE 'M%'",  # not pushable → Spark evaluates
    ]:
        via = read_table(
            spark, reference_data, "financials", as_of="2020-06-01T00:00:00.000Z"
        ).filter(cond)
        want = rows(native.filter(cond).select(*sorted(native.columns)))
        got = rows(via.select(*sorted(native.columns)))
        assert got == want, cond


def test_pushfilters_accepts_and_declines_correctly(spark, reference_data):
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from bazof_spark.datasource import BazofReader, BazofDataSource

    src = BazofDataSource(
        options={"path": reference_data, "table": "financials"}
    )
    reader = src.reader(src.schema())
    remaining = list(
        reader.pushFilters(
            [
                EqualTo(("key",), "MSFT"),           # accepted
                GreaterThan(("revenue",), 10),       # accepted
                EqualTo(("revenue",), "oops"),       # type mismatch → declined
                EqualTo(("nope",), 1),               # unknown col → declined
            ]
        )
    )
    assert len(reader._pushed) == 2
    assert len(remaining) == 2


def test_as_of_prunes_rows_in_reader(spark, reference_data):
    spark.dataSource.register(BazofDataSource)
    early = (
        spark.read.format("bazof")
        .option("path", reference_data)
        .option("table", "table0")
        .option("asOf", "2024-01-15T00:00:00.000Z")
        .load()
    )
    # the delta's 2024-02 row must never cross into the JVM
    assert early.filter("event_time >= '2024-02-01'").count() == 0


def test_pushed_key_probe_set_is_capped(spark, reference_data):
    """A huge pushed `key IN (...)` list must not turn partition
    planning into an O(|keys|)-per-file bloom probe: past
    MAX_BLOOM_PROBE_KEYS the pushed range falls back to range-only
    pruning (keys=None), mirroring KeyRange.of_keys; small lists keep
    the exact probe set."""
    from bazof_spark.datasource import key_range_of
    from bazof_spark.metadata import MAX_BLOOM_PROBE_KEYS

    src = BazofDataSource(options={"path": reference_data, "table": "financials"})
    reader = src.reader(src.schema())

    reader._pushed = [("isin", "key", tuple(f"k{i:05d}" for i in range(5)))]
    kr = key_range_of(reader._pushed)
    assert kr.keys == tuple(f"k{i:05d}" for i in range(5))

    big = tuple(f"k{i:05d}" for i in range(MAX_BLOOM_PROBE_KEYS + 1))
    reader._pushed = [("isin", "key", big)]
    kr = key_range_of(reader._pushed)
    assert kr.keys is None  # range-only pruning
    assert (kr.lo, kr.hi) == (big[0], big[-1])

    # equality conjoined with the big IN stays capped too
    reader._pushed = [("isin", "key", big), ("equal", "key", "k00001")]
    kr = key_range_of(reader._pushed)
    assert kr.keys is None


T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _small_group_lake(root):
    """Table ``t`` under ``root``, written with plain pyarrow: a base of
    200 keys and a delta of 60 upserts, both in 16-row row groups, so
    each file is many row groups over a few KiB. The delta holds two
    rows of one (key, event_time) pair with different values, the
    physically first winning — the intra-file tie-break split reads
    must keep by rebuilding the file-global ``_row_idx``. The snapshot
    records each file's size, as this library's writer does."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bazof_spark.metadata import Delta, Segment, Snapshot
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema

    table = root / "t"
    table.mkdir(parents=True)

    def write(name, rows):
        keys, times, values = zip(*rows)
        pq.write_table(
            pa.table({
                "key": pa.array(keys),
                "event_time": pa.array(times, pa.timestamp("ms", "UTC")),
                "value": pa.array(values),
            }),
            table / name,
            row_group_size=16,
        )
        return (table / name).stat().st_size

    def digest(*parts):
        return hashlib.sha256(repr(parts).encode()).hexdigest()

    t1 = T0 + timedelta(days=10)
    base = [(f"k{i:03d}", T0, digest("base", i)) for i in range(200)]
    delta = [(f"k{i:03d}", t1 + timedelta(days=i % 3), digest("delta", i))
             for i in range(0, 180, 3)]
    delta.sort(key=lambda r: r[1], reverse=True)  # event_time DESC
    dup = delta[0]
    delta.insert(1, (dup[0], dup[1], "second-" + dup[2]))
    base_size = write("base.parquet", base)
    delta_size = write("delta.parquet", delta)
    snapshot = Snapshot(
        segments=(
            Segment(
                id="s1", start=T0, file="base.parquet", size=base_size,
                delta=(
                    Delta(
                        file="delta.parquet", start=t1,
                        end=t1 + timedelta(days=2), size=delta_size,
                    ),
                ),
            ),
        ),
        schema=TableSchema(
            (ColumnDef("value", ColumnType.STRING, nullable=False),)
        ),
    )
    (table / "s1.json").write_text(snapshot.serialize())
    (table / "version.txt").write_text("1")
    return str(root)


@contextlib.contextmanager
def _split_size(spark, value):
    """The session's spark.sql.files.maxPartitionBytes set to ``value``
    for the block (``read_table`` and ``Lakehouse.scan`` read it)."""
    conf = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, value)
    try:
        yield
    finally:
        spark.conf.set(conf, saved)


def test_row_group_split_partitions(spark, tmp_path):
    """Files larger than maxPartitionBytes split into byte-range tasks
    (the JVM scan's FilePartition behavior, which the reference's
    one-partition-per-file provider lacks): a multi-row-group file
    plans >1 partition, every row group lands in exactly one task,
    and the merged result — including the intra-file
    (key, event_time) duplicate tie-break, which depends on the
    file-global _row_idx each split must reconstruct — is
    bit-identical to the unsplit JVM scan."""
    from collections import Counter
    from pathlib import Path

    import pyarrow.parquet as pq

    from bazof_spark.asof import Current
    from bazof_spark.datasource import BazofReader

    root = _small_group_lake(tmp_path / "lake")
    for p in Path(root, "t").glob("*.parquet"):
        assert pq.ParquetFile(p).metadata.num_row_groups > 1

    lh = Lakehouse(spark, root)
    snap = lh.table("t").get_current_snapshot()
    reader = BazofReader(
        {"maxpartitionbytes": "8k"},
        snap.schema.to_struct_type(),
        resolved=(lh.table("t"), snap, Current),
    )
    parts = reader.partitions()
    per_file = Counter(p.path for p in parts)
    assert max(per_file.values()) > 1  # big files fan out
    assert len(parts) > len(per_file)
    # covering, disjoint ranges per file; the tail range is
    # open-ended (to EOF) so an understated size can't drop row groups
    for path in per_file:
        spans = sorted(
            (p.start, p.length) for p in parts if p.path == path
        )
        pos = 0
        for start, length in spans[:-1]:
            assert start == pos and length is not None
            pos += length
        assert spans[-1][0] == pos and spans[-1][1] is None

    with _split_size(spark, "8k"):
        for as_of in (None, "2024-01-05T00:00:00.000Z",
                      "2024-01-12T00:00:00.000Z"):
            native = lh.scan("t", as_of=as_of)
            via = read_table(spark, root, "t", as_of=as_of)
            assert rows(via.select(*native.columns)) == rows(native), as_of


def test_row_group_split_row_idx_is_file_global(spark, tmp_path):
    """Raw source rows keep their file-global _row_idx under splitting:
    the split read's (key, event_time, _rank, _row_idx) set equals the
    whole-file read's exactly."""
    root = _small_group_lake(tmp_path / "lake")

    spark.dataSource.register(BazofDataSource)

    def raw(maxbytes):
        import json

        from bazof_spark import iofs

        df = (
            spark.read.format("bazof")
            .option("path", root)
            .option("table", "t")
            .option("bazofEnv", json.dumps(iofs.env_snapshot()))
            .option("maxPartitionBytes", maxbytes)
            .load()
        )
        got = df.select("key", "event_time", "_rank", "_row_idx").collect()
        return df.rdd.getNumPartitions(), sorted(map(tuple, got), key=repr)

    n_whole, whole = raw(str(1 << 30))
    n_split, split = raw("8k")
    assert n_split > n_whole
    assert split == whole


def test_recorded_sizes_skip_stat_pass(spark, tmp_path, monkeypatch):
    """Tables committed by this writer record each file's byte length
    in the snapshot, so split planning needs ZERO stat/HEAD calls
    (r10 ADVICE: the unconditional stat pass added planning latency on
    object stores); snapshots without sizes (reference-authored ones)
    still fall back to the batched stat."""
    import json

    import bazof_spark.datasource as dsmod
    from bazof_spark import Snapshot
    from bazof_spark.asof import Current
    from bazof_spark.datasource import BazofReader

    lh = Lakehouse(spark, _small_group_lake(tmp_path / "lake"))
    snap = lh.table("t").get_current_snapshot()
    sizes = snap.file_sizes()
    assert len(sizes) >= 2 and all(n > 0 for n in sizes.values())

    calls = []
    real = dsmod._file_sizes

    def spy(paths, env):
        calls.append(list(paths))
        return real(paths, env)

    monkeypatch.setattr(dsmod, "_file_sizes", spy)
    reader = BazofReader(
        {"maxpartitionbytes": "128m"},
        snap.schema.to_struct_type(),
        resolved=(lh.table("t"), snap, Current),
    )
    parts = reader.partitions()
    assert parts and calls == []  # every size came from the snapshot

    # the same snapshot stripped of its sizes → stat fallback
    doc = json.loads(snap.serialize())

    def strip(node):
        node.pop("size", None)
        for child in (*node.get("segments", ()), *node.get("delta", ())):
            strip(child)

    for seg in doc["segments"]:
        strip(seg)
    ref_snap = Snapshot.deserialize(json.dumps(doc))
    assert ref_snap.file_sizes() == {}
    ref_reader = BazofReader(
        {"maxpartitionbytes": "128m"},
        ref_snap.schema.to_struct_type(),
        resolved=(lh.table("t"), ref_snap, Current),
    )
    assert ref_reader.partitions()
    assert calls and all(calls[0])
