"""df.write.format("bazof") — the distributed two-phase-commit sink.

Round-trip contract: what write_table commits must read back, through
BOTH surfaces (native Lakehouse.scan and the bazof source), with the
format's semantics intact: as-of time travel over appended deltas,
version pinning across overwrites, sibling files carrying one range,
and the event_time-DESC file invariant inside every data file.
"""

import os
import sys
from datetime import datetime, timezone

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark import Lakehouse  # noqa: E402
from bazof_spark.datasource import read_table, write_table  # noqa: E402
from bazof_spark.errors import BazofError  # noqa: E402
from bazof_spark.table import Table  # noqa: E402


def ts(s):
    return datetime.fromisoformat(s).replace(tzinfo=timezone.utc)


def mkdf(spark, rows):
    df = spark.createDataFrame(
        rows, "key string, event_time timestamp, value double"
    )
    import pyspark.sql.functions as F

    return df.withColumn(
        "event_time", F.to_utc_timestamp("event_time", "UTC")
    )


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path)


def test_overwrite_creates_table_and_scan_merges(spark, root):
    df = mkdf(
        spark,
        [
            ("a", ts("2024-01-01T00:00:00"), 1.0),
            ("a", ts("2024-01-05T00:00:00"), 2.0),
            ("b", ts("2024-01-02T00:00:00"), 10.0),
        ],
    )
    write_table(df, root, "t", mode="overwrite", num_files=4)
    got = {
        r["key"]: r["value"]
        for r in Lakehouse(spark, root).scan("t").collect()
    }
    assert got == {"a": 2.0, "b": 10.0}
    # as-of before a's second version sees the first
    early = {
        r["key"]: r["value"]
        for r in Lakehouse(spark, root)
        .scan("t", as_of="2024-01-02T00:00:00.000Z")
        .collect()
    }
    assert early == {"a": 1.0, "b": 10.0}


def test_append_is_new_version_and_time_travelable(spark, root):
    write_table(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]),
        root,
        "t",
        mode="overwrite",
    )
    write_table(
        mkdf(
            spark,
            [
                ("a", ts("2024-02-01T00:00:00"), 5.0),
                ("c", ts("2024-02-02T00:00:00"), 7.0),
            ],
        ),
        root,
        "t",
        mode="append",
        num_files=3,
    )
    table = Table(path=os.path.join(root, "t"), name="t")
    assert table.current_version() == "2"
    now = {
        r["key"]: r["value"] for r in read_table(spark, root, "t").collect()
    }
    assert now == {"a": 5.0, "c": 7.0}
    # pin the pre-append version through the source
    v1 = {
        r["key"]: r["value"]
        for r in read_table(spark, root, "t", version="1").collect()
    }
    assert v1 == {"a": 1.0}


def test_overwrite_existing_bumps_version_keeps_old_pinnable(spark, root):
    write_table(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]),
        root,
        "t",
        mode="overwrite",
    )
    write_table(
        mkdf(spark, [("z", ts("2024-03-01T00:00:00"), 9.0)]),
        root,
        "t",
        mode="overwrite",
    )
    table = Table(path=os.path.join(root, "t"), name="t")
    assert table.current_version() == "2"
    assert {r["key"] for r in Lakehouse(spark, root).scan("t").collect()} == {"z"}
    old = read_table(spark, root, "t", version="1")
    assert {r["key"] for r in old.collect()} == {"a"}


def test_files_keep_desc_invariant_and_key_placement(spark, root):
    rows = [
        (f"k{i % 7}", ts(f"2024-01-{(i % 27) + 1:02d}T00:00:00"), float(i))
        for i in range(200)
    ]
    # unique (key, event_time): dedupe collisions
    seen, uniq = set(), []
    for k, t, v in rows:
        if (k, t) not in seen:
            seen.add((k, t))
            uniq.append((k, t, v))
    write_table(mkdf(spark, uniq), root, "t", mode="overwrite", num_files=5)
    tdir = os.path.join(root, "t")
    data_files = [f for f in os.listdir(tdir) if f.endswith(".parquet")]
    assert len(data_files) >= 2  # genuinely distributed output
    key_homes = {}
    for f in data_files:
        t = pq.read_table(os.path.join(tdir, f))
        ets = t.column("event_time").to_pylist()
        assert ets == sorted(ets, reverse=True), f"{f} not event_time DESC"
        for k in set(t.column("key").to_pylist()):
            assert key_homes.setdefault(k, f) == f, "key split across files"
    # staging dir cleaned up
    assert not [d for d in os.listdir(tdir) if d.startswith("_ds_stage_")]


def test_append_nullfills_missing_nullable_and_rejects_unknown(spark, root):
    import pyspark.sql.functions as F

    base = mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)])
    write_table(base, root, "t", mode="overwrite")
    # missing nullable value column → null-filled
    slim = base.select("key", "event_time").withColumn(
        "event_time", F.expr("event_time + interval 1 day")
    )
    write_table(slim, root, "t", mode="append")
    cur = Lakehouse(spark, root).scan("t").collect()
    assert cur[0]["value"] is None
    # unknown column → refused before any file lands
    bad = base.withColumn("extra", F.lit(1))
    with pytest.raises(Exception, match="extra"):
        write_table(bad, root, "t", mode="append")


def test_empty_write_refused(spark, root):
    df = mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]).filter("1=0")
    with pytest.raises(Exception, match="empty"):
        write_table(df, root, "t", mode="overwrite")
    assert not os.path.exists(os.path.join(root, "t", "version.txt"))


def test_append_to_missing_table_fails_fast(spark, root):
    df = mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)])
    with pytest.raises(Exception):
        write_table(df, root, "nope", mode="append")


def test_sql_over_written_table(spark, root):
    """End-to-end: author via the sink, query via time-travel SQL."""
    write_table(
        mkdf(
            spark,
            [
                ("a", ts("2024-01-01T00:00:00"), 1.0),
                ("b", ts("2024-01-03T00:00:00"), 3.0),
            ],
        ),
        root,
        "t",
        mode="overwrite",
    )
    lh = Lakehouse(spark, root)
    out = lh.sql(
        "SELECT key, value FROM t AT ('2024-01-02T00:00:00.000Z') ORDER BY key"
    ).collect()
    assert [(r["key"], r["value"]) for r in out] == [("a", 1.0)]


def test_stream_writer_creates_and_appends(spark, root, tmp_path):
    """writeStream.format('bazof'): micro-batches become snapshot
    versions; the table auto-creates on the first batch; a second query
    run (new batch ids under a new checkpoint) upserts."""
    import json

    from bazof_spark.datasource import BazofDataSource

    spark.dataSource.register(BazofDataSource)
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"key": "a", "event_time": "2024-01-01T00:00:00Z", "value": 1.0},
                {"key": "b", "event_time": "2024-01-02T00:00:00Z", "value": 2.0},
            ]
        )
    )
    schema = "key string, event_time timestamp, value double"

    def run_stream(checkpoint):
        # key placement is the stream's job (see BazofStreamWriter):
        # repartition so one key's rows land in one task per batch
        stream = (
            spark.readStream.schema(schema).json(str(src)).repartition("key")
        )
        q = (
            stream.writeStream.format("bazof")
            .option("path", root)
            .option("table", "st")
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream("cp1")
    lh = Lakehouse(spark, root)
    got = {r["key"]: r["value"] for r in lh.scan("st").collect()}
    assert got == {"a": 1.0, "b": 2.0}
    v1 = Table(path=os.path.join(root, "st"), name="st").current_version()

    # new data + fresh checkpoint → second commit upserts a newer version
    (src / "b.json").write_text(
        json.dumps(
            {"key": "a", "event_time": "2024-03-01T00:00:00Z", "value": 9.0}
        )
    )
    run_stream("cp2")
    got2 = {r["key"]: r["value"] for r in lh.scan("st").collect()}
    assert got2 == {"a": 9.0, "b": 2.0}
    v2 = Table(path=os.path.join(root, "st"), name="st").current_version()
    assert int(v2) > int(v1)
    # time travel still sees the first state
    old = {
        r["key"]: r["value"]
        for r in lh.scan("st", as_of="2024-02-01T00:00:00.000Z").collect()
    }
    assert old == {"a": 1.0, "b": 2.0}


def test_append_merge_schema_evolves(spark, root):
    import pyspark.sql.functions as F

    base = mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)])
    write_table(base, root, "t", mode="overwrite")
    widened = mkdf(spark, [("b", ts("2024-02-01T00:00:00"), 2.0)]).withColumn(
        "note", F.lit("new")
    )
    # without mergeSchema: refused
    with pytest.raises(Exception, match="mergeSchema"):
        write_table(widened, root, "t", mode="append")
    table = Table(path=os.path.join(root, "t"), name="t")
    v0 = int(table.current_version())
    write_table(widened, root, "t", mode="append", merge_schema=True)
    # the new column lands in the SAME snapshot as the data
    assert int(table.current_version()) == v0 + 1
    rows = {
        r["key"]: (r["value"], r["note"])
        for r in Lakehouse(spark, root).scan("t").collect()
    }
    # old rows null-fill the evolved column; new rows carry it
    assert rows == {"a": (1.0, None), "b": (2.0, "new")}


def test_stream_append_merge_schema_evolves(spark, root, tmp_path):
    """writeStream.format('bazof') with mergeSchema: the stream's extra
    column is declared in the snapshot that commits the micro-batch —
    one version — so it reads back instead of being dropped."""
    import json

    from bazof_spark.datasource import BazofDataSource

    spark.dataSource.register(BazofDataSource)
    write_table(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]),
        root, "t", mode="overwrite",
    )
    table = Table(path=os.path.join(root, "t"), name="t")
    v0 = int(table.current_version())
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        json.dumps(
            {"key": "b", "event_time": "2024-02-01T00:00:00Z",
             "value": 2.0, "note": "new"}
        )
    )
    q = (
        spark.readStream.schema(
            "key string, event_time timestamp, value double, note string"
        )
        .json(str(src))
        .writeStream.format("bazof")
        .option("path", root)
        .option("table", "t")
        .option("mergeSchema", "true")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert int(table.current_version()) == v0 + 1
    assert [c.name for c in table.get_current_snapshot().schema.columns] == [
        "value", "note"
    ]
    rows = {
        r["key"]: (r["value"], r["note"])
        for r in Lakehouse(spark, root).scan("t").collect()
    }
    assert rows == {"a": (1.0, None), "b": (2.0, "new")}


def test_stream_reader_tails_committed_versions(spark, root, tmp_path):
    """spark.readStream.format('bazof'): offsets are snapshot versions;
    startingVersion=0 replays the full history, a numeric
    startingVersion skips the versions at or below it, and rows carry
    the committing version as _rank."""
    from bazof_spark.datasource import BazofDataSource

    spark.dataSource.register(BazofDataSource)
    write_table(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]),
        root, "t", mode="overwrite",
    )
    write_table(
        mkdf(spark, [("b", ts("2024-02-01T00:00:00"), 2.0)]),
        root, "t", mode="append",
    )

    def drain(starting, view):
        q = (
            spark.readStream.format("bazof")
            .option("path", root)
            .option("table", "t")
            .option("startingVersion", starting)
            .load()
            .writeStream.format("memory")
            .queryName(view)
            .option("checkpointLocation", str(tmp_path / f"cp_{view}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["key"], r["_rank"]): r["value"]
            for r in spark.sql(f"SELECT * FROM {view}").collect()
        }

    full = drain("0", "sr_full")
    assert full == {("a", 1): 1.0, ("b", 2): 2.0}
    tail = drain("1", "sr_tail")
    assert tail == {("b", 2): 2.0}


def test_stream_reads_across_a_rename(spark, root, tmp_path):
    """A RENAME COLUMN mid-history must not break streaming replay: the
    stream's schema is fixed at start (old name); files committed after
    the rename store the NEW spelling, and the per-version formers map
    resolves them back into the stream's column."""
    from bazof_spark.datasource import BazofDataSource
    from bazof_spark.maintenance import evolve_table_schema

    spark.dataSource.register(BazofDataSource)
    write_table(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]),
        root, "t", mode="overwrite",
    )
    lh = Lakehouse(spark, root)
    evolve_table_schema(lh, "t", rename={"value": "amount"})
    # post-rename commit stores the NEW name
    lh.write(
        mkdf(spark, [("b", ts("2024-02-01T00:00:00"), 2.0)]).withColumnRenamed(
            "value", "amount"
        ),
        "t",
    )
    q = (
        spark.readStream.format("bazof")
        .option("path", root)
        .option("table", "t")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("memory")
        .queryName("sr_renamed")
        .option("checkpointLocation", str(tmp_path / "cp_renamed"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sr_renamed").collect()
    # the stream started AFTER the rename, so its schema carries the
    # new name; the pre-rename file's old spelling maps into it
    got = {r["key"]: r["amount"] for r in rows}
    assert got == {"a": 1.0, "b": 2.0}


def test_stream_fails_fast_across_a_widen(spark, root, tmp_path):
    """Type widening rewrites every referenced file; replaying that
    version through a stream would double-deliver history under a now-
    incompatible schema, so it must hit the rewrite fail-fast (same
    contract as checkpoint/overwrite), not silently re-emit."""
    import pyspark.sql.functions as F

    from bazof_spark.datasource import BazofDataSource
    from bazof_spark.maintenance import evolve_table_schema
    from bazof_spark.schema import ColumnType

    spark.dataSource.register(BazofDataSource)
    write_table(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]).withColumn(
            "value", F.col("value").cast("bigint")
        ),
        root, "t", mode="overwrite",
    )
    lh = Lakehouse(spark, root)
    evolve_table_schema(lh, "t", widen={"value": ColumnType.FLOAT})
    q = (
        spark.readStream.format("bazof")
        .option("path", root)
        .option("table", "t")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("memory")
        .queryName("sr_widen")
        .option("checkpointLocation", str(tmp_path / "cp_widen"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="rewrote data files"):
        q.awaitTermination(120)


def test_lakehouse_write_method(spark, root):
    lh = Lakehouse(spark, root)
    lh.write(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]), "t",
        mode="overwrite",
    )
    lh.write(mkdf(spark, [("b", ts("2024-02-01T00:00:00"), 2.0)]), "t")
    assert {r["key"] for r in lh.scan("t").collect()} == {"a", "b"}
    assert lh.table("t").current_version() == "2"


def test_asof_pruning_all_files_returns_empty(spark, root):
    """An as-of instant before the table's first event prunes every
    file; the source must return 0 rows, not crash on the empty
    partition list."""
    write_table(
        mkdf(spark, [("a", ts("2024-06-01T00:00:00"), 1.0)]),
        root, "t", mode="overwrite",
    )
    out = read_table(spark, root, "t", as_of="2023-01-01T00:00:00.000Z")
    assert out.count() == 0


def test_source_reads_pre_evolution_files_nullfilled(spark, root):
    """After mergeSchema evolution, files written BEFORE the new column
    must read back through the data source with nulls in that column
    (pyarrow silently drops requested-but-missing columns; the reader
    re-adds them)."""
    import pyspark.sql.functions as F

    write_table(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]),
        root, "t", mode="overwrite",
    )
    widened = mkdf(spark, [("b", ts("2024-02-01T00:00:00"), 2.0)]).withColumn(
        "note", F.lit("new")
    )
    write_table(widened, root, "t", mode="append", merge_schema=True)
    rows = {
        r["key"]: (r["value"], r["note"])
        for r in read_table(spark, root, "t").collect()
    }
    assert rows == {"a": (1.0, None), "b": (2.0, "new")}


def test_empty_append_is_noop(spark, root):
    write_table(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]),
        root, "t", mode="overwrite",
    )
    v1 = Table(path=os.path.join(root, "t"), name="t").current_version()
    empty = mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]).filter("1=0")
    write_table(empty, root, "t", mode="append")  # must not raise
    assert Table(path=os.path.join(root, "t"), name="t").current_version() == v1


def test_failed_merge_schema_write_does_not_evolve(spark, root):
    """The mergeSchema evolution must commit WITH the data: a write
    whose tasks fail leaves the table schema (and version) untouched."""
    import pyspark.sql.functions as F

    write_table(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]),
        root, "t", mode="overwrite",
    )
    bad = spark.createDataFrame(
        [(None, ts("2024-02-01T00:00:00").replace(tzinfo=None), 2.0)],
        "key string, event_time timestamp, value double",
    ).withColumn("note", F.lit("x"))
    with pytest.raises(Exception):
        write_table(bad, root, "t", mode="append", merge_schema=True,
                    validate=False)
    table = Table(path=os.path.join(root, "t"), name="t")
    assert table.current_version() == "1"
    assert [c.name for c in table.get_current_snapshot().schema.columns] == [
        "value"
    ]


def test_stream_reader_fails_on_rewrite_unless_ignored(spark, root, tmp_path):
    """A checkpoint/compaction inside the offset range must fail the
    stream by default (re-emitting rewritten history would double-count)
    and be skippable with ignoreRewrites."""
    from bazof_spark import Lakehouse
    from bazof_spark.datasource import BazofDataSource
    from bazof_spark.maintenance import checkpoint_table

    spark.dataSource.register(BazofDataSource)
    write_table(
        mkdf(spark, [("a", ts("2024-01-01T00:00:00"), 1.0)]),
        root, "t", mode="overwrite",
    )
    from datetime import datetime, timezone

    lh = Lakehouse(spark, root)
    # rewrites: version 2 replaces the file set with a checkpoint base
    checkpoint_table(lh, "t", at=datetime(2024, 2, 1, tzinfo=timezone.utc))
    write_table(
        mkdf(spark, [("b", ts("2024-03-01T00:00:00"), 2.0)]),
        root, "t", mode="append",
    )

    def drain(view, ignore):
        reader = (
            spark.readStream.format("bazof")
            .option("path", root)
            .option("table", "t")
            .option("startingVersion", "0")
        )
        if ignore:
            reader = reader.option("ignoreRewrites", "true")
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(view)
            .option("checkpointLocation", str(tmp_path / f"cp_{view}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["key"], r["_rank"])
            for r in spark.sql(f"SELECT * FROM {view}").collect()
        }

    with pytest.raises(Exception, match="rewrote|rewrite"):
        drain("sr_rw_fail", ignore=False)
    got = drain("sr_rw_skip", ignore=True)
    # version 1's append + version 3's append stream; the rewrite
    # version (2) is skipped
    assert got == {("a", 1), ("b", 3)}


def test_stream_sink_marker_survives_checkpoint_reset(spark, root, tmp_path):
    """Deleting and reusing a checkpoint path restarts batchIds at 0
    under a NEW query id: the replay marker must key on the query id so
    the fresh run's batches are not silently dropped."""
    import json
    import shutil

    from bazof_spark import Lakehouse
    from bazof_spark.datasource import BazofDataSource

    spark.dataSource.register(BazofDataSource)
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        json.dumps(
            {"key": "a", "event_time": "2024-01-01T00:00:00Z", "value": 1.0}
        )
    )
    cp = str(tmp_path / "cp_reset")
    schema = "key string, event_time timestamp, value double"

    def run():
        q = (
            spark.readStream.schema(schema).json(str(src)).repartition("key")
            .writeStream.format("bazof")
            .option("path", root)
            .option("table", "st")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    lh = Lakehouse(spark, root)
    assert {r["key"] for r in lh.scan("st").collect()} == {"a"}
    # reset: delete the checkpoint, add data, rerun with the SAME path
    shutil.rmtree(cp)
    (src / "b.json").write_text(
        json.dumps(
            {"key": "b", "event_time": "2024-02-01T00:00:00Z", "value": 2.0}
        )
    )
    run()
    assert {r["key"] for r in lh.scan("st").collect()} == {"a", "b"}


def test_stream_read_splits_multi_row_group_file(spark, root, tmp_path):
    """Round-10 byte-range splitting on the STREAM source: a large
    multi-row-group file in the replayed range (the big-base-at-
    startingVersion-0 case) fans out over several tasks, and the
    delivered rows — including the file-global _row_idx provenance —
    are identical to the whole-file read."""
    from pathlib import Path

    from bazof_spark.datasource import BazofDataSource

    spark.dataSource.register(BazofDataSource)
    write_table(
        mkdf(
            spark,
            [(f"k{i:04d}", ts("2024-01-01T00:00:00"), float(i))
             for i in range(400)],
        ),
        root, "t", mode="overwrite", num_files=1,
    )
    (pfile,) = [
        p for p in Path(root, "t").glob("*.parquet")
    ]
    pq.write_table(pq.read_table(pfile), pfile, row_group_size=32)
    assert pq.ParquetFile(pfile).metadata.num_row_groups > 1

    def drain(max_bytes, view):
        q = (
            spark.readStream.format("bazof")
            .option("path", root)
            .option("table", "t")
            .option("startingVersion", "0")
            .option("maxPartitionBytes", max_bytes)
            .load()
            .writeStream.format("memory")
            .queryName(view)
            .option("checkpointLocation", str(tmp_path / f"cp_{view}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r["key"], r["_rank"], r["_row_idx"], r["value"])
            for r in spark.sql(f"SELECT * FROM {view}").collect()
        )

    whole = drain(str(1 << 30), "split_whole")
    split = drain("2k", "split_ranges")
    assert split == whole
    assert len(split) == 400
    # planning really split: >1 partition for the one file
    from bazof_spark.datasource import BazofStreamReader
    from pyspark.sql.types import StructType

    reader = BazofStreamReader.__new__(BazofStreamReader)
    # drive partitions() directly with a tiny threshold
    from bazof_spark import iofs

    reader._env = iofs.env_snapshot()
    reader._table = Table(path=os.path.join(root, "t"), name="t")
    reader._schema = read_table(spark, root, "t").schema
    reader._ignore_rewrites = False
    reader._ignore_deletes = False
    reader._max_part_bytes = 2048
    parts = reader.partitions({"version": 0}, {"version": 1})
    assert len(parts) > 1 and len({p.path for p in parts}) == 1
