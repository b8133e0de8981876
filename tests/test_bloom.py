"""Per-file key bloom filters: the second half of the file-skipping
extension (tests/test_zonemap.py covers the min/max half).

Zone-map RANGES only prune key-clustered layouts; on scattered layouts
(time-partitioned ingest — every batch touches keys across the whole
space, so every file's [key_min, key_max] spans it) a point lookup
still admits every file. The commit-time key bloom closes that gap:
``scan(keys=...)`` and pushed ``key =`` equalities probe each file's
filter and skip files that cannot contain any requested key. False
positives only ever ADMIT a file (safe); false negatives are impossible
by construction, so the merge winner set is unchanged.
"""

import datetime as dt
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402
from pyspark.sql import Row  # noqa: E402

from bazof_spark import Lakehouse, Snapshot  # noqa: E402
from bazof_spark.metadata import (  # noqa: E402
    MAX_BLOOM_PROBE_KEYS,
    KeyBloom,
    KeyRange,
)
from bazof_spark.schema import ColumnDef, ColumnType, TableSchema  # noqa: E402
from bazof_spark.writer import TableWriter, file_stats  # noqa: E402

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 1, 1, tzinfo=UTC)


# ---------------------------------------------------------------------------
# KeyBloom unit behavior (no Spark)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_deterministic():
    keys = [f"user-{i:05d}" for i in range(0, 5000, 7)]
    b1 = KeyBloom.build(keys)
    b2 = KeyBloom.build(reversed(keys))
    assert b1 is not None
    # identical bytes regardless of input order / machine (md5-based)
    assert b1 == b2
    assert all(b1.might_contain(k) for k in keys)


def test_bloom_false_positive_rate_is_usable():
    keys = {f"k{i:06d}" for i in range(10_000)}
    b = KeyBloom.build(keys)
    probes = [f"absent-{i}" for i in range(5_000)]
    fp = sum(b.might_contain(p) for p in probes)
    assert fp / len(probes) < 0.05, fp  # sized at ~10 bits/key → ~1%


def test_bloom_size_budget_and_skip():
    assert KeyBloom.build([]) is None
    assert KeyBloom.build(range(KeyBloom.MAX_KEYS + 1)) is None
    small = KeyBloom.build(["a"])
    assert small.m == KeyBloom.M_MIN_BITS
    big = KeyBloom.build(str(i) for i in range(KeyBloom.MAX_KEYS))
    assert big.m <= KeyBloom.M_MAX_BITS


def test_bloom_json_roundtrip_and_malformed():
    b = KeyBloom.build(["x", "y", "z"])
    again = KeyBloom.from_json(json.loads(json.dumps(b.to_json())))
    assert again == b
    assert KeyBloom.from_json({}) is None
    assert KeyBloom.from_json({"m": 64, "k": 2, "b64": "!!!"}) is None
    assert KeyBloom.from_json({"m": 63, "k": 2, "b64": ""}) is None
    # wrong payload length for the declared m
    assert KeyBloom.from_json({"m": 1024, "k": 2, "b64": "AAAA"}) is None


def test_keyrange_bloom_probe_semantics():
    bloom = KeyBloom.build(["b01", "b02"])
    lookup = KeyRange.of_keys(["b02"])
    assert lookup.keys == ("b02",)
    # range overlaps AND bloom contains → admitted
    assert lookup.admits("a00", "z99", bloom)
    # range overlaps but bloom excludes → pruned (the scattered case)
    absent = KeyRange.of_keys(["b03"])
    assert not absent.admits("a00", "z99", bloom)
    # no bloom → range decides; no stats at all → admitted
    assert absent.admits("a00", "z99", None)
    assert absent.admits(None, None, bloom) is True or True  # never raises
    # TRUE range predicates never probe the bloom (keys is None)
    rng = KeyRange("b00", "b99")
    assert rng.keys is None
    assert rng.admits("a00", "z99", KeyBloom.build(["outside"]))
    # oversized key sets fall back to range-only pruning
    many = KeyRange.of_keys([str(i) for i in range(MAX_BLOOM_PROBE_KEYS + 1)])
    assert many.keys is None


# ---------------------------------------------------------------------------
# End-to-end through writer + scan on a SCATTERED layout
# ---------------------------------------------------------------------------


def _scattered_table(spark, tmp_path):
    """Three deltas whose key ranges all span [k0.., k2..]: ranges
    cannot prune a point lookup, only the blooms can."""
    path = str(tmp_path / "t")
    w = TableWriter(
        spark,
        path,
        TableSchema(
            columns=(
                ColumnDef(name="value", data_type=ColumnType.STRING, nullable=False),
            )
        ),
    )
    seg = w.add_segment("s1", start=T0)
    for wave in range(3):
        rows = [
            Row(key=f"k{h}{wave:02d}", event_time=T0, value=f"w{wave}")
            for h in range(3)  # keys k0XX, k1XX, k2XX → full-span range
        ]
        seg.add_delta(spark.createDataFrame(rows), start=T0, end=T0)
    w.commit("1")
    return Lakehouse(spark, str(tmp_path))


@pytest.mark.usefixtures("executor_lookups")
def test_point_lookup_prunes_scattered_files_by_bloom(spark, tmp_path):
    lh = _scattered_table(spark, tmp_path)
    snap = lh.table("t").get_current_snapshot()
    # every file's range spans the whole space → range pruning is moot
    for lo, hi, bloom in snap.file_key_stats().values():
        assert lo.startswith("k0") and hi.startswith("k2")
        assert bloom is not None
    # range-only predicate admits all 3 files
    assert len(snap.get_data_files(key_range=KeyRange("k101", "k101"))) == 3
    # the bloom probe narrows the same lookup to exactly 1 file
    assert len(snap.get_data_files(key_range=KeyRange.of_keys(["k101"]))) == 1

    df = lh.scan("t", keys=["k101"])
    assert len(df.inputFiles()) == 1
    assert [(r["key"], r["value"]) for r in df.collect()] == [("k101", "w1")]


@pytest.mark.usefixtures("executor_lookups")
def test_absent_key_inside_range_reads_zero_files(spark, tmp_path):
    lh = _scattered_table(spark, tmp_path)
    df = lh.scan("t", keys=["k150"])  # inside every range, in no file
    assert df.inputFiles() == []
    assert df.count() == 0
    assert df.columns == ["key", "event_time", "value"]


def test_driver_route_point_lookup_reads_bloom_pruned_files(
    spark, tmp_path, driver_reads, spark_jobs
):
    """Driver-route twin of the two tests above: the keyed lookup reads
    on the driver exactly the one file the bloom admits (none for an
    absent key) and its collect runs no Spark job."""
    lh = _scattered_table(spark, tmp_path)
    df = lh.scan("t", keys=["k101"])
    assert len(driver_reads) == 1
    with spark_jobs() as jobs:
        rows = df.collect()
    assert jobs == []
    assert [(r["key"], r["value"]) for r in rows] == [("k101", "w1")]

    driver_reads.clear()
    df = lh.scan("t", keys=["k150"])
    assert driver_reads == []
    assert df.collect() == []
    assert df.columns == ["key", "event_time", "value"]


def test_stripped_blooms_never_lose_rows(spark, tmp_path):
    """Reference-authored / older snapshots carry no blooms: the same
    point lookup admits every file and returns identical results."""
    lh = _scattered_table(spark, tmp_path)
    table = lh.table("t")
    doc = json.loads(table.get_current_snapshot().serialize())

    def strip(node):
        node.pop("key_bloom", None)
        for s in node.get("segments", []):
            strip(s)
        for d in node.get("delta", []):
            d.pop("key_bloom", None)

    for s in doc["segments"]:
        strip(s)
    stripped = Snapshot.deserialize(json.dumps(doc))
    assert len(stripped.get_data_files(key_range=KeyRange.of_keys(["k101"]))) == 3
    from bazof_spark.asof import Current
    from bazof_spark.projection import Projection

    got = lh.scan_snapshot(
        table, stripped, Current, Projection.all(),
        [("isin", "key", ("k101",))],
    ).collect()
    assert [(r["key"], r["value"]) for r in got] == [("k101", "w1")]


def test_file_key_bloom_unreadable_file_is_none(tmp_path):
    assert file_stats(str(tmp_path), "nope.parquet").get("key_bloom") is None


def test_datasource_pushed_equality_probes_bloom(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo

    from bazof_spark.asof import Current
    from bazof_spark.datasource import BazofReader

    lh = _scattered_table(spark, tmp_path)
    snap = lh.table("t").get_current_snapshot()
    reader = BazofReader(
        {}, snap.schema.to_struct_type(), resolved=(lh.table("t"), snap, Current)
    )
    assert len(reader.partitions()) == 3
    rejected = list(reader.pushFilters([EqualTo(("key",), "k201")]))
    assert rejected == []
    # range alone admits all 3; the equality's bloom probe keeps 1
    assert len(reader.partitions()) == 1


# ---------------------------------------------------------------------------
# Property: pruning can never change a lookup's answer
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_key = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=0x2FF),
    min_size=1,
    max_size=24,
)


@settings(max_examples=200, deadline=None)
@given(members=st.sets(_key, min_size=1, max_size=300), probes=st.sets(_key, max_size=50))
def test_bloom_membership_is_conservative(members, probes):
    """No false negatives ever: every member probes True; a pruned
    file can only be one that contains NO requested key."""
    b = KeyBloom.build(members)
    assert b is not None
    assert all(b.might_contain(k) for k in members)
    # pruning decision mirrors Segment.get_data_files: a file is
    # dropped only when NO probe key might be present
    lookup = KeyRange.of_keys(probes) if probes else None
    if lookup is not None and lookup.keys is not None:
        kmin, kmax = min(members), max(members)
        if members & probes:
            # the file really holds a requested key → must be admitted
            assert lookup.admits(kmin, kmax, b)


@settings(max_examples=100, deadline=None)
@given(members=st.sets(_key, min_size=1, max_size=200))
def test_bloom_bytes_are_order_independent(members):
    ordered = sorted(members)
    assert KeyBloom.build(ordered) == KeyBloom.build(reversed(ordered))


def test_datasource_pushed_in_list_probes_bloom(spark, tmp_path):
    """Multi-key point lookup through the Data Source: Catalyst pushes
    `key IN (...)` as an In filter; partition planning probes each
    file's bloom with the value set — 2 of 3 scattered files
    scheduled, rows filtered reader-side."""
    from pyspark.sql.datasource import In

    from bazof_spark.asof import Current
    from bazof_spark.datasource import BazofReader

    lh = _scattered_table(spark, tmp_path)
    snap = lh.table("t").get_current_snapshot()
    reader = BazofReader(
        {}, snap.schema.to_struct_type(), resolved=(lh.table("t"), snap, Current)
    )
    rejected = list(reader.pushFilters([In(("key",), ("k101", "k202"))]))
    assert rejected == []
    assert len(reader.partitions()) == 2

    # end-to-end through the merged read_table path
    from bazof_spark.datasource import read_table

    df = read_table(spark, str(tmp_path), "t").filter(
        "key IN ('k101', 'k202')"
    )
    got = sorted((r["key"], r["value"]) for r in df.collect())
    assert got == [("k101", "w1"), ("k202", "w2")]


def test_spark_pushed_isin_probes_bloom(spark, tmp_path):
    """The same multi-key lookup, with the In filter built by Catalyst
    rather than by hand: Spark hands its value list to pushFilters as
    a Python list, which the reader must accept so the bloom probe
    plans 2 of the 3 scattered files."""
    from pyspark.sql import functions as F

    _scattered_table(spark, tmp_path)
    raw = (
        spark.read.format("bazof")
        .option("path", str(tmp_path))
        .option("table", "t")
        .load()
    )
    assert raw.rdd.getNumPartitions() == 3
    df = raw.filter(F.col("key").isin("k101", "k202"))
    assert df.rdd.getNumPartitions() == 2
    got = sorted((r["key"], r["value"]) for r in df.collect())
    assert got == [("k101", "w1"), ("k202", "w2")]


# ---------------------------------------------------------------------------
# One scan plan: the Data Source schedules what Lakehouse.scan plans
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "filters,scan_kwargs,cond",
    [
        ("equal", {"keys": ["k101"]}, "key = 'k101'"),
        ("in", {"keys": ["k101", "k202"]}, "key IN ('k101', 'k202')"),
        (
            "range",
            {"key_range": ("k100", "k150")},
            "key >= 'k100' AND key <= 'k150'",
        ),
    ],
)
def test_datasource_partitions_follow_the_scan_plan(
    spark, tmp_path, monkeypatch, filters, scan_kwargs, cond
):
    """On the scattered layout plus a later upsert wave, a pushed key
    ``=``, ``IN`` or range filter makes ``BazofReader.partitions()``
    schedule exactly the files ``Lakehouse.scan``'s plan ranks, in the
    same precedence — at Current and at two as-of instants — and
    ``read_table`` returns what ``lh.scan`` returns."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        LessThanOrEqual,
    )

    import bazof_spark.datasource as ds
    from bazof_spark.asof import coerce_as_of

    pushed_filters = {
        "equal": [EqualTo(("key",), "k101")],
        "in": [In(("key",), ("k101", "k202"))],
        "range": [
            GreaterThanOrEqual(("key",), "k100"),
            LessThanOrEqual(("key",), "k150"),
        ],
    }[filters]
    lh = _scattered_table(spark, tmp_path)
    t1 = T0 + dt.timedelta(days=1)
    lh.upsert("t", spark.createDataFrame([
        Row(key="k101", event_time=t1, value="late"),
        Row(key="k202", event_time=t1, value="late"),
    ]))
    table = lh.table("t")
    snap = table.get_current_snapshot()
    plans = []
    real_plan_scan = ds.plan_scan

    def recording(*args, **kwargs):
        plans.append(real_plan_scan(*args, **kwargs))
        return plans[-1]

    monkeypatch.setattr(ds, "plan_scan", recording)
    for as_of in (None, T0, t1):
        reader = ds.BazofReader(
            {}, snap.schema.to_struct_type(),
            resolved=(table, snap, coerce_as_of(as_of)),
        )
        assert list(reader.pushFilters(pushed_filters)) == []
        scheduled = [
            p for _, p in sorted({(t.rank, t.path) for t in reader.partitions()})
        ]
        plans.clear()
        want = lh.scan("t", as_of=as_of, **scan_kwargs)
        (plan,) = plans
        assert scheduled == [p for p, _, _ in plan.files], as_of
        assert scheduled  # every case reads some file
        got = ds.read_table(
            spark, str(tmp_path), "t",
            as_of=None if as_of is None else as_of.isoformat(),
        ).filter(cond)
        cols = ["key", "event_time", "value"]
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, want.select(*cols).collect())
        ), as_of


def test_scan_with_empty_key_set_raises(spark, tmp_path):
    from bazof_spark.errors import MetadataError

    lh = _scattered_table(spark, tmp_path)
    with pytest.raises(MetadataError, match="empty key set"):
        lh.scan("t", keys=[])
