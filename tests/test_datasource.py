"""spark.read.format("bazof") — the Python Data Source surface must
agree with Lakehouse.scan (the native fast path) on the reference's
own golden tables, at Current and at every interesting as-of instant,
including file-precedence ties resolved by (_rank, _row_idx)."""

import os
import sys

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
    from bazof_spark.metadata import MAX_BLOOM_PROBE_KEYS

    src = BazofDataSource(options={"path": reference_data, "table": "financials"})
    reader = src.reader(src.schema())

    reader._pushed = [("isin", "key", tuple(f"k{i:05d}" for i in range(5)))]
    kr = reader._pushed_key_range()
    assert kr.keys == tuple(f"k{i:05d}" for i in range(5))

    big = tuple(f"k{i:05d}" for i in range(MAX_BLOOM_PROBE_KEYS + 1))
    reader._pushed = [("isin", "key", big)]
    kr = reader._pushed_key_range()
    assert kr.keys is None  # range-only pruning
    assert (kr.lo, kr.hi) == (big[0], big[-1])

    # equality conjoined with the big IN stays capped too
    reader._pushed = [("isin", "key", big), ("equal", "key", "k00001")]
    kr = reader._pushed_key_range()
    assert kr.keys is None


def test_row_group_split_partitions(spark, reference_data, tmp_path, monkeypatch):
    """Files larger than maxPartitionBytes split into byte-range tasks
    (the JVM scan's FilePartition behavior, which the reference's
    one-partition-per-file provider lacks): a multi-row-group file
    plans >1 partition, every row group lands in exactly one task,
    and the merged result — including the goldens' intra-file
    (key, event_time) duplicate tie-break, which depends on the
    file-global _row_idx each split must reconstruct — is
    bit-identical to the unsplit JVM scan."""
    import shutil
    from collections import Counter
    from pathlib import Path

    import pyarrow.parquet as pq

    from bazof_spark.asof import Current
    from bazof_spark.datasource import BazofReader

    root = tmp_path / "lake"
    shutil.copytree(reference_data, root)
    for p in Path(root, "financials").glob("*.parquet"):
        t = pq.read_table(p)  # bit-identical rows, tiny row groups
        pq.write_table(t, p, row_group_size=16)
        assert pq.ParquetFile(p).metadata.num_row_groups > 1

    lh = Lakehouse(spark, str(root))
    snap = lh.table("financials").get_current_snapshot()
    reader = BazofReader(
        {"maxpartitionbytes": "8k"},
        snap.schema.to_struct_type(),
        resolved=(lh.table("financials"), snap, Current),
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

    monkeypatch.setenv("BAZOF_MAX_PARTITION_BYTES", "8k")
    for as_of in (None, "2019-01-17T00:00:00.000Z", "2020-06-01T00:00:00.000Z"):
        native = lh.scan("financials", as_of=as_of)
        via = read_table(spark, str(root), "financials", as_of=as_of)
        assert rows(via.select(*native.columns)) == rows(native), as_of


def test_row_group_split_row_idx_is_file_global(
    spark, reference_data, tmp_path, monkeypatch
):
    """Raw source rows keep their file-global _row_idx under splitting:
    the split read's (key, event_time, _rank, _row_idx) set equals the
    whole-file read's exactly."""
    import shutil
    from pathlib import Path

    import pyarrow.parquet as pq

    root = tmp_path / "lake"
    shutil.copytree(reference_data, root)
    for p in Path(root, "financials").glob("*.parquet"):
        pq.write_table(pq.read_table(p), p, row_group_size=16)

    spark.dataSource.register(BazofDataSource)

    def raw(maxbytes):
        monkeypatch.setenv("BAZOF_MAX_PARTITION_BYTES", maxbytes)
        import json

        from bazof_spark import iofs

        df = (
            spark.read.format("bazof")
            .option("path", str(root))
            .option("table", "financials")
            .option("bazofEnv", json.dumps(iofs.env_snapshot()))
            .load()
        )
        got = df.select("key", "event_time", "_rank", "_row_idx").collect()
        return df.rdd.getNumPartitions(), sorted(map(tuple, got), key=repr)

    n_whole, whole = raw(str(1 << 30))
    n_split, split = raw("8k")
    assert n_split > n_whole
    assert split == whole


def test_recorded_sizes_skip_stat_pass(spark, reference_data, tmp_path, monkeypatch):
    """Tables committed by this writer record each file's byte length
    in the snapshot, so split planning needs ZERO stat/HEAD calls
    (r10 ADVICE: the unconditional stat pass added planning latency on
    object stores); reference-authored snapshots — no sizes — still
    fall back to the batched stat."""
    import json
    from datetime import datetime, timezone

    import bazof_spark.datasource as dsmod
    from bazof_spark.asof import Current
    from bazof_spark.datasource import BazofReader, write_table
    from bazof_spark.writer import append_delta

    df = spark.createDataFrame(
        [(str(i), datetime(2024, 1, 1, tzinfo=timezone.utc), float(i))
         for i in range(30)],
        "key string, event_time timestamp, value double",
    )
    write_table(df, str(tmp_path), "t", mode="overwrite")
    append_delta(
        spark,
        str(tmp_path / "t"),
        df.limit(5).withColumn("value", df.value + 1),
    )
    lh = Lakehouse(spark, str(tmp_path))
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

    # reference snapshot (no sizes) → stat fallback still happens
    ref_lh = Lakehouse(spark, reference_data)
    ref_snap = ref_lh.table("table0").get_current_snapshot()
    assert ref_snap.file_sizes() == {}
    ref_reader = BazofReader(
        {"maxpartitionbytes": "128m"},
        ref_snap.schema.to_struct_type(),
        resolved=(ref_lh.table("table0"), ref_snap, Current),
    )
    assert ref_reader.partitions()
    assert calls and all(calls[0])
