"""File-level key zone maps: per-file key_min/key_max written into the
snapshot at commit time, pruned at metadata time by Lakehouse.scan
(keys=/key_range=) and by the Data Source reader's partition planning
from pushed key predicates.

Pruning is an EXTENSION over the reference's temporal-only pruning
(crates/azof/src/metadata.rs:47-86): at 100 TB a selective key lookup
must not list every in-range file. Correctness never depends on stats —
files without them (reference-authored snapshots, older writers) are
always admitted.
"""

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402
from pyspark.sql import Row  # noqa: E402

from bazof_spark import Lakehouse, Snapshot  # noqa: E402
from bazof_spark.metadata import KeyRange  # noqa: E402
from bazof_spark.schema import ColumnDef, ColumnType, TableSchema  # noqa: E402
from bazof_spark.writer import TableWriter, append_delta  # noqa: E402

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
T1 = dt.datetime(2024, 2, 1, tzinfo=UTC)


def _df(spark, prefix, t, n=5):
    return spark.createDataFrame(
        [
            Row(key=f"{prefix}{i:02d}", event_time=t, value=f"{prefix}{i}@{t:%m}")
            for i in range(n)
        ]
    )


def _key_clustered_table(spark, tmp_path):
    """Three deltas with disjoint key ranges a*, b*, c* + one later
    update delta touching only b*."""
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
    for prefix in ("a", "b", "c"):
        seg.add_delta(_df(spark, prefix, T0), start=T0, end=T0)
    w.commit("1")
    append_delta(spark, path, _df(spark, "b", T1))  # update wave on b*
    return Lakehouse(spark, str(tmp_path))


def test_snapshot_carries_and_roundtrips_stats(spark, tmp_path):
    lh = _key_clustered_table(spark, tmp_path)
    snap = lh.table("t").get_current_snapshot()
    stats = snap.file_key_stats()
    assert len(stats) == 4
    by_min = sorted((lo, hi) for lo, hi, _bloom in stats.values())
    assert by_min == [
        ("a00", "a04"), ("b00", "b04"), ("b00", "b04"), ("c00", "c04")
    ]
    # every file also carries a key bloom that admits its own keys
    for lo, _hi, bloom in stats.values():
        assert bloom is not None and bloom.might_contain(lo)
    # serialize → deserialize preserves bounds and bloom bytes
    again = Snapshot.deserialize(snap.serialize())
    assert again.file_key_stats() == stats


@pytest.mark.usefixtures("executor_lookups")
def test_scan_keys_prunes_files_and_merges_correctly(spark, tmp_path):
    lh = _key_clustered_table(spark, tmp_path)
    full = {
        r["key"]: r["value"] for r in lh.scan("t").collect()
    }
    # key lookup: only the two b* files are read (base wave + update)
    df = lh.scan("t", keys=["b02"])
    read = {os.path.basename(f) for f in df.inputFiles()}
    assert len(read) == 2, read
    assert all("b" in f or "delta" in f for f in read)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["value"] == full["b02"] == "b2@02"  # the T1 update won

    # range scan across two clusters reads 3 of 4 files
    df = lh.scan("t", key_range=("a03", "b99"))
    assert len({os.path.basename(f) for f in df.inputFiles()}) == 3
    got = {r["key"]: r["value"] for r in df.collect()}
    assert got == {k: v for k, v in full.items() if "a03" <= k <= "b99"}


@pytest.mark.usefixtures("executor_lookups")
def test_scan_key_pruning_respects_as_of(spark, tmp_path):
    lh = _key_clustered_table(spark, tmp_path)
    # before the update wave: the T1 b-delta is temporally pruned AND
    # the key predicate prunes a*/c* — exactly one file remains
    df = lh.scan("t", as_of=T0, keys=["b02"])
    assert len(df.inputFiles()) == 1
    assert df.collect()[0]["value"] == "b2@01"


def test_scan_keys_driver_route_reads_pruned_files_without_a_job(
    spark, tmp_path, driver_reads, spark_jobs
):
    """Driver-route twin of the two tests above: under the default
    broadcast threshold a keyed lookup reads its pruned files on the
    driver — the same file sets — and its collect runs no Spark job."""
    lh = _key_clustered_table(spark, tmp_path)
    df = lh.scan("t", keys=["b02"])
    read = {os.path.basename(f) for f in driver_reads}
    assert len(read) == 2, read
    assert all("b" in f or "delta" in f for f in read)
    with spark_jobs() as jobs:
        rows = df.collect()
    assert jobs == []
    assert [(r["key"], r["value"]) for r in rows] == [("b02", "b2@02")]

    driver_reads.clear()
    df = lh.scan("t", as_of=T0, keys=["b02"])
    assert len(set(driver_reads)) == 1
    with spark_jobs() as jobs:
        assert df.collect()[0]["value"] == "b2@01"
    assert jobs == []


def test_scans_with_no_admitted_file_run_no_job(spark, tmp_path, spark_jobs):
    """A keyed lookup whose key no file admits, and an as-of before the
    first segment, plan no file at all: the empty result is a local
    relation with the table's declared schema, and its collect runs no
    Spark job."""
    from bazof_spark.projection import Projection

    lh = _key_clustered_table(spark, tmp_path)
    snap = lh.table("t").get_current_snapshot()
    declared = snap.schema.to_struct_type(Projection.all())
    for df in (
        lh.scan("t", keys=["zz"]),
        lh.scan("t", as_of=T0 - dt.timedelta(days=1)),
    ):
        with spark_jobs() as jobs:
            assert df.collect() == []
        assert jobs == []
        assert df.schema == declared


def test_measured_event_time_bounds_prune_invisible_files(spark, tmp_path):
    """ts_min zone maps: a delta whose DECLARED start admits it at an
    as-of instant but whose MEASURED minimum event_time lies beyond it
    contributes zero visible rows (the reader filters event_time <= t)
    — so the scan skips the file entirely, with identical results."""
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
    seg.add_delta(_df(spark, "a", T0), start=T0, end=T1)
    # declared start T0 (eligible at any t >= T0) but every ROW is at T1
    seg.add_delta(_df(spark, "a", T1), start=T0, end=T1)
    w.commit("1")
    lh = Lakehouse(spark, str(tmp_path))

    mid = dt.datetime(2024, 1, 15, tzinfo=UTC)
    df = lh.scan("t", as_of=mid)
    assert len(df.inputFiles()) == 1  # the all-T1 file is skipped
    got = {r["key"]: r["value"] for r in df.collect()}
    assert got == {f"a{i:02d}": f"a{i}@01" for i in range(5)}
    # at Current both files are visible; the deltas share a declared
    # start, so ARRAY ORDER decides precedence (stable sort — file
    # precedence beats timestamp, SURVEY §4.2) and the first delta wins
    cur = {r["key"]: r["value"] for r in lh.scan("t").collect()}
    assert cur == {f"a{i:02d}": f"a{i}@01" for i in range(5)}
    # stats roundtrip through the snapshot JSON
    snap = lh.table("t").get_current_snapshot()
    d0 = snap.segments[0].delta[0]
    assert d0.ts_min is not None and d0.ts_max is not None
    again = Snapshot.deserialize(snap.serialize())
    assert again.segments[0].delta[0].ts_min == d0.ts_min


def test_missing_stats_admit_everything(spark, tmp_path):
    lh = _key_clustered_table(spark, tmp_path)
    table = lh.table("t")
    snap = table.get_current_snapshot()
    # simulate a reference-authored snapshot: strip the stats fields
    import json

    doc = json.loads(snap.serialize())

    def strip(node):
        node.pop("key_min", None)
        node.pop("key_max", None)
        for s in node.get("segments", []):
            strip(s)
        for d in node.get("delta", []):
            d.pop("key_min", None)
            d.pop("key_max", None)

    for s in doc["segments"]:
        strip(s)
    stripped = Snapshot.deserialize(json.dumps(doc))
    files = stripped.ranked_data_files(key_range=KeyRange("b00", "b99"))
    assert len(files) == 4  # nothing pruned — and nothing lost
    # results identical through the no-stats path
    from bazof_spark.asof import Current
    from bazof_spark.projection import Projection

    got = {
        r["key"]: r["value"]
        for r in lh.scan_snapshot(
            table, stripped, Current, Projection.all(),
            [("isin", "key", ("b02",))],
        ).collect()
    }
    assert got == {"b02": "b2@02"}


def test_keyrange_admits_semantics():
    kr = KeyRange("b", "c")
    assert kr.admits(None, None)          # no stats → admitted
    assert kr.admits("a", "bb")           # overlaps low edge
    assert kr.admits("bz", "bz")          # inside
    assert not kr.admits("a", "az")       # entirely below
    assert not kr.admits("ca", "d")       # entirely above ('c' < 'ca')
    assert KeyRange(None, "b").admits("a", "z")
    assert not KeyRange(None, "b").admits("ba", "z")
    assert KeyRange.of_keys(["x", "m"]).lo == "m"


def test_datasource_partitions_pruned_by_pushed_key_filter(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo

    from bazof_spark.datasource import BazofReader

    lh = _key_clustered_table(spark, tmp_path)
    snap = lh.table("t").get_current_snapshot()
    schema = snap.schema.to_struct_type()
    reader = BazofReader(
        {}, schema, resolved=(lh.table("t"), snap, __import__(
            "bazof_spark.asof", fromlist=["Current"]).Current)
    )
    assert len(reader.partitions()) == 4  # no predicate → all files
    rejected = list(reader.pushFilters([EqualTo(("key",), "c01")]))
    assert rejected == []  # accepted (evaluated in the Arrow reader)
    assert len(reader.partitions()) == 1  # only the c* file scheduled


def test_workload_query_reads_fewer_files_than_listed(spark):
    """The zonemap_key_lookup workload query actually prunes: it reads
    strictly fewer files than the snapshot lists for Current."""
    from bazof_spark.sources.events import (
        KEYED_TABLE_NAME,
        events_key_clustered_lakehouse,
    )
    from bazof_spark.workload import zonemap_key_lookup

    sf_dir = "/root/testdata/sf0.001"
    lh = events_key_clustered_lakehouse(spark, sf_dir)
    listed = len(lh.table(KEYED_TABLE_NAME).get_current_snapshot().get_data_files())
    df = zonemap_key_lookup(spark, sf_dir)
    read = len(df.inputFiles())
    assert 0 < read < listed, (read, listed)


def test_datasource_end_to_end_key_filter(spark, tmp_path):
    from bazof_spark.datasource import read_table

    lh = _key_clustered_table(spark, tmp_path)
    df = read_table(spark, str(tmp_path), "t").filter("key = 'b02'")
    rows = df.collect()
    assert [(r["key"], r["value"]) for r in rows] == [("b02", "b2@02")]


@pytest.mark.usefixtures("executor_lookups")
def test_scan_changes_with_key_predicate_prunes_both_sides(spark, tmp_path):
    """"What changed for key X": the CDF restricted to a key set runs
    the same file-level stats pruning on BOTH as-of sides — here the
    early side keeps 1 file (temporal prune of the T1 wave + key prune
    of a*/c*), the late side 2, so the whole diff touches 2 of 4
    files."""
    lh = _key_clustered_table(spark, tmp_path)
    ch = lh.scan_changes("t", since=T0, keys=["b02"])
    assert len({os.path.basename(f) for f in ch.inputFiles()}) == 2
    rows = ch.collect()
    assert [(r["key"], r["change_type"], r["value_early"], r["value_late"])
            for r in rows] == [("b02", "update", "b2@01", "b2@02")]
    # a key with no post-`since` activity yields an empty feed — and
    # still only reads its own cluster's files
    quiet = lh.scan_changes("t", since=T0, keys=["a01"])
    assert len(quiet.inputFiles()) == 1
    assert quiet.count() == 0


def test_scan_changes_driver_route_prunes_both_sides(
    spark, tmp_path, driver_reads
):
    """Driver-route twin: both keyed as-of sides of the CDF read on the
    driver, with the same pruning — 2 of 4 files for b02 (early side
    1, late side 2), 1 for a01."""
    lh = _key_clustered_table(spark, tmp_path)
    ch = lh.scan_changes("t", since=T0, keys=["b02"])
    assert len(driver_reads) == 3
    assert len({os.path.basename(f) for f in driver_reads}) == 2
    rows = ch.collect()
    assert [(r["key"], r["change_type"], r["value_early"], r["value_late"])
            for r in rows] == [("b02", "update", "b2@01", "b2@02")]
    driver_reads.clear()
    quiet = lh.scan_changes("t", since=T0, keys=["a01"])
    assert len(set(driver_reads)) == 1
    assert quiet.count() == 0
