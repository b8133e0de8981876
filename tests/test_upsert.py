"""Incremental upsert (append_delta) + streaming upsert sink tests.

The write path the reference roadmaps (README.md:152 writers,
README.md:158 streaming scan): each batch/micro-batch becomes one delta
file + one snapshot version, and every historical version stays
queryable via as-of / snapshot-version travel.
"""

import os
from datetime import datetime, timezone

import pytest

from bazof_spark.errors import BazofError
from bazof_spark.lakehouse import Lakehouse
from bazof_spark.maintenance import _referenced_files, validate_table
from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
from bazof_spark.streaming.sink import upsert_sink
from bazof_spark.writer import TableWriter, append_delta


def ts(y, m, d, h=0):
    return datetime(y, m, d, h, tzinfo=timezone.utc)


SCHEMA = TableSchema((ColumnDef("value", ColumnType.STRING, False),))


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, t, v) for k, t, v in rows], SCHEMA.to_struct_type()
    )


def _seed_table(spark, root):
    w = TableWriter(spark, f"{root}/t", SCHEMA)
    w.add_segment(
        "10",
        ts(2024, 1, 1),
        base_df=_df(
            spark,
            [("1", ts(2024, 1, 1), "a1"), ("2", ts(2024, 1, 1), "b1")],
        ),
    )
    w.commit()
    return Lakehouse(spark, root)


def _current(lh, **kw):
    return sorted(
        tuple(r) for r in lh.scan("t", **kw).select("key", "value").collect()
    )


def test_upsert_bumps_version_and_wins_current(spark, tmp_path):
    lh = _seed_table(spark, str(tmp_path))
    lh.upsert("t", _df(spark, [("1", ts(2024, 2, 1), "a2"), ("3", ts(2024, 2, 2), "c1")]))

    assert lh.table("t").current_version() == "2"
    assert _current(lh) == [("1", "a2"), ("2", "b1"), ("3", "c1")]
    # snapshot-version travel still sees the pre-upsert state
    assert _current(lh, version=1) == [("1", "a1"), ("2", "b1")]
    # as-of before the upsert's event times also does
    assert _current(lh, as_of=ts(2024, 1, 15)) == [("1", "a1"), ("2", "b1")]
    validate_table(lh, "t").raise_if_invalid()


def test_upsert_chain_and_late_data(spark, tmp_path):
    lh = _seed_table(spark, str(tmp_path))
    lh.upsert("t", _df(spark, [("1", ts(2024, 3, 1), "a3")]))
    # late batch: event times BEFORE the previous delta's — its delta
    # sorts beneath (start DESC), so the newer version still wins Current
    lh.upsert("t", _df(spark, [("1", ts(2024, 2, 1), "a2-late")]))

    assert lh.table("t").current_version() == "3"
    assert _current(lh) == [("1", "a3"), ("2", "b1")]
    # …but as-of between the two instants surfaces the late row
    assert _current(lh, as_of=ts(2024, 2, 15)) == [("1", "a2-late"), ("2", "b1")]
    validate_table(lh, "t").raise_if_invalid()


def test_upsert_distributed_multifile(spark, tmp_path):
    lh = _seed_table(spark, str(tmp_path))
    rows = [(str(k), ts(2024, 4, 1 + k % 20), f"v{k}") for k in range(200)]
    lh.upsert("t", _df(spark, rows), distributed=True, num_files=4)

    snap = lh.table("t").get_current_snapshot()
    files = [d.file for d in snap.segments[-1].delta]
    assert len(files) == 4
    # no stray files: every parquet on disk is non-empty and referenced
    on_disk = {f for f in os.listdir(tmp_path / "t") if f.endswith(".parquet")}
    assert on_disk == _referenced_files(snap)
    assert all((tmp_path / "t" / f).stat().st_size > 0 for f in on_disk)
    got = dict(_current(lh))
    assert got["7"] == "v7" and got["199"] == "v199" and len(got) == 200
    validate_table(lh, "t").raise_if_invalid()


def test_upsert_no_open_segment(spark, tmp_path):
    root = str(tmp_path)
    w = TableWriter(spark, f"{root}/t", SCHEMA)
    w.add_segment(  # CLOSED segment only
        "10",
        ts(2024, 1, 1),
        end=ts(2024, 6, 1),
        base_df=_df(spark, [("1", ts(2024, 1, 1), "a1")]),
    )
    w.commit()
    lh = Lakehouse(spark, root)
    with pytest.raises(BazofError, match="no open top-level segment"):
        lh.upsert("t", _df(spark, [("1", ts(2024, 7, 1), "a2")]))
    lh.upsert(
        "t", _df(spark, [("1", ts(2024, 7, 1), "a2")]), create_segment=True
    )
    assert _current(lh) == [("1", "a2")]
    # the closed segment is invisible to Current (metadata.rs:75-86) but
    # as-of inside its range still reads it
    assert _current(lh, as_of=ts(2024, 2, 1)) == [("1", "a1")]


def test_upsert_rejects_duplicate_pairs_and_empty(spark, tmp_path):
    lh = _seed_table(spark, str(tmp_path))
    dup = _df(
        spark,
        [("1", ts(2024, 5, 1), "x"), ("1", ts(2024, 5, 1), "y")],
    )
    with pytest.raises(BazofError, match="duplicate"):
        lh.upsert("t", dup)
    with pytest.raises(BazofError, match="empty batch"):
        lh.upsert("t", _df(spark, []))


def test_upsert_composes_with_checkpoint(spark, tmp_path):
    """upsert → checkpoint → upsert: the post-checkpoint delta lands in
    the checkpoint's new open segment, Current reflects everything, and
    pre-checkpoint as-of reads stay bit-identical (the maintenance
    module's guarantee must survive subsequent writes)."""
    from bazof_spark.maintenance import checkpoint_table

    lh = _seed_table(spark, str(tmp_path))
    lh.upsert("t", _df(spark, [("1", ts(2024, 2, 1), "a2")]))
    before = _current(lh, as_of=ts(2024, 1, 15))

    checkpoint_table(lh, "t", at=ts(2024, 6, 1))
    n_files_current = len(
        lh.table("t").get_current_snapshot().get_data_files()
    )
    assert n_files_current == 1  # Current collapsed to the merged base

    lh.upsert("t", _df(spark, [("2", ts(2024, 7, 1), "b2"), ("9", ts(2024, 7, 2), "z1")]))
    assert _current(lh) == [("1", "a2"), ("2", "b2"), ("9", "z1")]
    # pre-checkpoint history unchanged after the write
    assert _current(lh, as_of=ts(2024, 1, 15)) == before
    assert _current(lh, as_of=ts(2024, 2, 15)) == [("1", "a2"), ("2", "b1")]
    validate_table(lh, "t").raise_if_invalid()


def test_scan_is_snapshot_isolated_from_later_upserts(spark, tmp_path):
    """A DataFrame built before an upsert keeps reading its snapshot's
    file list after the commit — the atomic version.txt flip publishes
    for NEW scans only (the reference's read protocol: resolve pointer
    first, crates/azof/src/table.rs:16-41)."""
    lh = _seed_table(spark, str(tmp_path))
    pinned = lh.scan("t")
    lh.upsert("t", _df(spark, [("1", ts(2024, 2, 1), "a2")]))
    got = sorted(
        tuple(r) for r in pinned.select("key", "value").collect()
    )
    assert got == [("1", "a1"), ("2", "b1")]  # pre-upsert state
    assert _current(lh) == [("1", "a2"), ("2", "b1")]  # fresh scan sees it


def test_upsert_after_schema_evolution_nullfills(spark, tmp_path):
    """A producer written before evolve_table_schema keeps working: the
    batch lacking the added nullable column is null-filled; a batch
    carrying it writes real values."""
    from pyspark.sql import functions as F

    from bazof_spark.maintenance import evolve_table_schema
    from bazof_spark.schema import ColumnDef, ColumnType

    lh = _seed_table(spark, str(tmp_path))
    evolve_table_schema(
        lh, "t", add=[ColumnDef("score", ColumnType.INT, nullable=True)]
    )
    # old-producer batch: no `score` column
    lh.upsert("t", _df(spark, [("1", ts(2024, 2, 1), "a2")]))
    # new-producer batch: carries score
    new = _df(spark, [("3", ts(2024, 2, 2), "c1")]).withColumn(
        "score", F.lit(7).cast("long")
    )
    lh.upsert("t", new)

    got = {
        r["key"]: (r["value"], r["score"])
        for r in lh.scan("t").select("key", "value", "score").collect()
    }
    assert got == {"1": ("a2", None), "2": ("b1", None), "3": ("c1", 7)}
    validate_table(lh, "t").raise_if_invalid()


def test_streaming_upsert_sink(spark, tmp_path):
    root = str(tmp_path)
    lh = _seed_table(spark, root)

    # stage a file-source stream with two event batches
    src = os.path.join(root, "incoming")
    _df(spark, [("1", ts(2024, 2, 1), "a2"), ("4", ts(2024, 2, 2), "d1")]).write.mode(
        "append"
    ).parquet(src)
    _df(spark, [("2", ts(2024, 3, 1), "b2")]).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(SCHEMA.to_struct_type())
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        upsert_sink(stream, f"{root}/t", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert _current(lh) == [("1", "a2"), ("2", "b2"), ("4", "d1")]
    assert int(lh.table("t").current_version()) >= 2
    validate_table(lh, "t").raise_if_invalid()
    # history preserved: before the stream's event times
    assert _current(lh, as_of=ts(2024, 1, 15)) == [("1", "a1"), ("2", "b1")]


def test_commit_conflict_detected_and_retry_succeeds(spark, tmp_path):
    """Optimistic concurrency: a version pointer moved by a concurrent
    writer between snapshot read and publish must raise
    CommitConflictError (not silently drop the other commit), and
    upsert_with_retry must succeed by re-deriving from the new
    snapshot."""
    from bazof_spark.errors import CommitConflictError
    from bazof_spark.metadata import Snapshot
    from bazof_spark.writer import _publish_snapshot, upsert_with_retry

    lh = _seed_table(spark, str(tmp_path))
    table = lh.table("t")
    stale_version = table.current_version()
    stale_snapshot = table.get_current_snapshot()

    # concurrent writer lands a commit (pointer moves 1 → 2)
    append_delta(
        spark, table.path, _df(spark, [("3", ts(2024, 1, 2), "c1")])
    )
    assert table.current_version() != stale_version

    # publishing a snapshot derived from the stale version must refuse
    with pytest.raises(CommitConflictError):
        _publish_snapshot(
            table.path,
            stale_version,
            "9",
            Snapshot(
                segments=stale_snapshot.segments,
                schema=stale_snapshot.schema,
            ),
        )
    # the refused publish left no partial state behind
    assert not os.path.exists(os.path.join(table.path, "s9.json"))
    assert table.current_version() == "2"

    # retry loop: plain sequential use never false-positives, and the
    # result includes every committed row
    upsert_with_retry(
        spark, table.path, _df(spark, [("4", ts(2024, 1, 3), "d1")])
    )
    assert _current(lh) == [
        ("1", "a1"), ("2", "b1"), ("3", "c1"), ("4", "d1"),
    ]


def test_commit_delta_files_retries_on_conflict(spark, tmp_path):
    """A concurrent commit that moves the version pointer between this
    commit's read and publish must trigger a re-derive + re-publish of
    the SAME moved files — both commits' rows survive."""
    from datetime import datetime, timezone
    from unittest import mock

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bazof_spark import Lakehouse, writer as W
    from bazof_spark.datasource import write_table

    root = str(tmp_path)

    def mk(keys, iso, value):
        t = datetime.fromisoformat(iso).replace(tzinfo=timezone.utc)
        return spark.createDataFrame(
            [(k, t, float(value)) for k in keys],
            "key string, event_time timestamp, value double",
        )

    write_table(mk(["a"], "2024-01-01", 1), root, "t", mode="overwrite")
    tdir = tmp_path / "t"

    # stage one parquet by hand (what a DS write task produces)
    staged = tdir / "_stage_x" / "p.parquet"
    staged.parent.mkdir()
    pq.write_table(
        pa.table(
            {
                "key": ["b"],
                "event_time": pa.array(
                    [datetime(2024, 2, 1)], pa.timestamp("us", "UTC")
                ),
                "value": [2.0],
            }
        ),
        str(staged),
    )

    real_publish = W._publish_snapshot
    fired = {"n": 0}

    def racing_publish(*args, **kwargs):
        if fired["n"] == 0:
            fired["n"] += 1
            # competing writer wins the pointer first
            write_table(mk(["c"], "2024-03-01", 3), root, "t", mode="append")
        return real_publish(*args, **kwargs)

    real_stats = W._delta_with_stats
    stat_reads = []  # file names, one per stats read

    def counting_stats(table_path, file_name, *args, **kwargs):
        stat_reads.append(file_name)
        return real_stats(table_path, file_name, *args, **kwargs)

    start = datetime(2024, 2, 1, tzinfo=timezone.utc)
    with mock.patch.object(
        W, "_publish_snapshot", side_effect=racing_publish
    ), mock.patch.object(W, "_delta_with_stats", side_effect=counting_stats):
        W.commit_delta_files(str(tdir), [str(staged)], start, start)

    got = {
        r["key"]: r["value"] for r in Lakehouse(spark, root).scan("t").collect()
    }
    assert got == {"a": 1.0, "b": 2.0, "c": 3.0}
    assert fired["n"] == 1  # conflict happened exactly once
    # the retry re-derives metadata only: stats are read once per file
    assert stat_reads and len(stat_reads) == len(set(stat_reads))


def test_conflicting_retry_writes_once(spark, tmp_path):
    """upsert_with_retry writes its batch ONCE: a commit conflict
    re-places the already-written file in the re-read snapshot instead
    of re-collecting the batch, so no unreferenced delta is left behind
    and both commits' rows survive."""
    from unittest import mock

    from bazof_spark import writer as W

    lh = _seed_table(spark, str(tmp_path))
    table_path = f"{tmp_path}/t"
    real_publish = W._publish_snapshot
    real_write = W._write_arrow_file
    racing = {"fired": False, "now": False}
    ours = []  # files written by the retried upsert, not the racer

    def racing_publish(*args, **kwargs):
        if not racing["fired"]:
            racing["fired"] = racing["now"] = True
            # a competing writer wins the pointer first
            append_delta(spark, table_path, _df(spark, [("3", ts(2024, 1, 2), "c1")]))
            racing["now"] = False
        return real_publish(*args, **kwargs)

    def counting_write(tbl, dest_path, *args, **kwargs):
        if not racing["now"]:
            ours.append(os.path.basename(dest_path))
        return real_write(tbl, dest_path, *args, **kwargs)

    with mock.patch.object(
        W, "_publish_snapshot", side_effect=racing_publish
    ), mock.patch.object(W, "_write_arrow_file", side_effect=counting_write):
        W.upsert_with_retry(
            spark, table_path, _df(spark, [("4", ts(2024, 1, 3), "d1")])
        )

    assert racing["fired"]
    assert len(ours) == 1, ours  # the batch was written once
    current = lh.table("t").get_current_snapshot()
    on_disk = {f for f in os.listdir(table_path) if f.endswith(".parquet")}
    assert on_disk == _referenced_files(current)
    assert lh.table("t").current_version() == "3"
    assert _current(lh) == [("1", "a1"), ("2", "b1"), ("3", "c1"), ("4", "d1")]


def test_retry_refuses_files_written_under_an_old_schema(spark, tmp_path):
    """A conflict whose winner widened Int → Float leaves this commit's
    file holding int64 values: re-placing it under the Float schema
    would corrupt reads, so the retry raises CommitConflictError and the
    caller re-derives."""
    from unittest import mock

    from bazof_spark import writer as W
    from bazof_spark.errors import CommitConflictError
    from bazof_spark.maintenance import evolve_table_schema

    schema = TableSchema(
        (
            ColumnDef("value", ColumnType.STRING, False),
            ColumnDef("n", ColumnType.INT, True),
        )
    )

    def df(rows):
        return spark.createDataFrame(rows, schema.to_struct_type())

    w = TableWriter(spark, f"{tmp_path}/t", schema)
    w.add_segment("10", ts(2024, 1, 1), base_df=df([("1", ts(2024, 1, 1), "a1", 1)]))
    w.commit()
    lh = Lakehouse(spark, str(tmp_path))
    real_publish = W._publish_snapshot
    fired = {"n": 0}

    def widening_publish(*args, **kwargs):
        if fired["n"] == 0:
            fired["n"] += 1
            evolve_table_schema(lh, "t", widen={"n": "Float"})
        return real_publish(*args, **kwargs)

    with mock.patch.object(W, "_publish_snapshot", side_effect=widening_publish):
        with pytest.raises(CommitConflictError, match="schema changed"):
            W.upsert_with_retry(
                spark, f"{tmp_path}/t", df([("2", ts(2024, 2, 1), "b1", 7)])
            )
    snap = lh.table("t").get_current_snapshot()
    assert [c.data_type for c in snap.schema.columns] == [
        ColumnType.STRING, ColumnType.FLOAT,
    ]
    assert sorted(tuple(r) for r in lh.scan("t").select("key", "n").collect()) == [
        ("1", 1.0)
    ]


def _non_numeric_publishers():
    """(id, call(spark, lh, table_path)) for every snapshot publisher."""
    from bazof_spark import writer as W
    from bazof_spark import maintenance as M

    def batch(spark):
        return _df(spark, [("9", ts(2024, 1, 2), "z")])

    def staged(table_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # staged OUTSIDE the table dir: the test pins that nothing
        # lands inside it
        path = os.path.join(os.path.dirname(table_path), "stage", "p.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table({
                "key": ["9"],
                "event_time": pa.array(
                    [datetime(2024, 1, 2)], pa.timestamp("us", "UTC")
                ),
                "value": ["z"],
            }),
            path,
        )
        return [path]

    at = ts(2024, 6, 1)
    return [
        ("append_delta", lambda sp, lh, p: W.append_delta(sp, p, batch(sp))),
        ("append_delta_distributed", lambda sp, lh, p: W.append_delta(
            sp, p, batch(sp), distributed=True)),
        ("upsert_with_retry", lambda sp, lh, p: W.upsert_with_retry(sp, p, batch(sp))),
        ("delete_keys", lambda sp, lh, p: W.delete_keys(sp, p, ["1"], at=at)),
        ("merge_apply", lambda sp, lh, p: W.merge_apply(
            sp, p, upsert_df=batch(sp),
            delete_keys_df=sp.createDataFrame([("1",)], "key string"))),
        ("commit_delta_files", lambda sp, lh, p: W.commit_delta_files(
            p, staged(p), at, at)),
        ("create_table_version_from_files", lambda sp, lh, p: (
            W.create_table_version_from_files(
                p, SCHEMA, staged(p), at, at))),
        ("checkpoint_table", lambda sp, lh, p: M.checkpoint_table(lh, "t", at)),
        ("optimize_table", lambda sp, lh, p: M.optimize_table(
            lh, "t", at, cluster_by=["value"])),
        ("evolve_add", lambda sp, lh, p: M.evolve_table_schema(
            lh, "t", add=[ColumnDef("x", ColumnType.STRING, True)])),
        ("restore_table", lambda sp, lh, p: M.restore_table(lh, "t", 1)),
    ]


@pytest.mark.parametrize(
    "publish",
    [p for _, p in _non_numeric_publishers()],
    ids=[i for i, _ in _non_numeric_publishers()],
)
def test_non_numeric_pointer_refused_before_any_write(spark, tmp_path, publish):
    """Every publisher refuses a non-numeric version pointer the same
    way — one BazofError, raised before any data file is written."""
    import shutil

    lh = _seed_table(spark, str(tmp_path))
    table_path = f"{tmp_path}/t"
    shutil.copy(os.path.join(table_path, "s1.json"), os.path.join(table_path, "sabc.json"))
    with open(os.path.join(table_path, "version.txt"), "w") as f:
        f.write("abc")
    before = sorted(os.listdir(table_path))
    with pytest.raises(BazofError, match="cannot bump non-numeric"):
        publish(spark, lh, table_path)
    assert sorted(os.listdir(table_path)) == before


def test_concurrent_upserts_lose_nothing(spark, tmp_path):
    """Two writer threads race 6 commits each through upsert_with_retry.
    The local-FS commit lock (writer._commit_lock) makes the pointer
    check→flip a real CAS and the per-commit token in every delta name
    stops same-name clobbering, so EVERY committed delta must survive: all 12
    keys present, version advanced exactly 12 times, snapshot chain
    linear, validation clean."""
    import threading

    from bazof_spark.writer import upsert_with_retry

    lh = _seed_table(spark, str(tmp_path))
    table_path = f"{tmp_path}/t"
    n_each = 6
    errors: list[BaseException] = []

    def writer_thread(tag: str):
        try:
            for i in range(n_each):
                upsert_with_retry(
                    spark,
                    table_path,
                    _df(spark, [(f"{tag}{i}", ts(2024, 2, 1 + i), f"v_{tag}{i}")]),
                    retries=50,
                )
        except BaseException as exc:  # surface in the main thread
            errors.append(exc)

    threads = [
        threading.Thread(target=writer_thread, args=(t,)) for t in ("x", "y")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    assert lh.table("t").current_version() == str(1 + 2 * n_each)
    got = dict(_current(lh))
    for tag in ("x", "y"):
        for i in range(n_each):
            assert got.get(f"{tag}{i}") == f"v_{tag}{i}", (tag, i, got)
    report = validate_table(lh, "t")
    assert not report.errors, report.errors
    # no lock file left behind
    assert not os.path.exists(os.path.join(table_path, "version.txt.lock"))


def test_stale_commit_lock_is_broken(spark, tmp_path):
    """A lock file abandoned by a crashed writer must not wedge the
    table: the first publish attempt conflicts (and breaks the stale
    lock), the retry loop then commits normally."""
    import time as _time

    from bazof_spark.writer import upsert_with_retry

    lh = _seed_table(spark, str(tmp_path))
    table_path = f"{tmp_path}/t"
    lock = os.path.join(table_path, "version.txt.lock")
    open(lock, "w").close()
    old = _time.time() - 3600
    os.utime(lock, (old, old))

    upsert_with_retry(
        spark, table_path, _df(spark, [("9", ts(2024, 3, 1), "z1")]), retries=3
    )
    assert lh.table("t").current_version() == "2"
    assert ("9", "z1") in _current(lh)
    assert not os.path.exists(lock)


def test_fresh_foreign_lock_conflicts_cleanly(spark, tmp_path):
    """A RECENT lock (another writer mid-commit) raises
    CommitConflictError without being broken."""
    from bazof_spark.errors import CommitConflictError
    from bazof_spark.writer import append_delta as _append

    _seed_table(spark, str(tmp_path))
    table_path = f"{tmp_path}/t"
    lock = os.path.join(table_path, "version.txt.lock")
    open(lock, "w").close()
    with pytest.raises(CommitConflictError, match="lock held"):
        _append(spark, table_path, _df(spark, [("9", ts(2024, 3, 1), "z1")]))
    assert os.path.exists(lock)  # not stolen from a live writer


def test_append_delta_casts_to_declared_types(spark, tmp_path):
    """A batch carrying SQL-flavored types (DECIMAL literal, int where
    the schema says Int64-as-string here) must be cast to the DECLARED
    column types at write: an uncast delta's divergent parquet type
    would break every later explicit-schema scan until RESTORE."""
    from pyspark.sql import functions as F

    from bazof_spark import Lakehouse
    from bazof_spark.writer import append_delta

    lh = _seed_table(spark, str(tmp_path))
    # value column is declared String; hand it an INT batch
    bad = spark.createDataFrame(
        [("9", ts(2024, 2, 1), 123)],
        "key string, event_time timestamp, value int",
    )
    append_delta(spark, f"{tmp_path}/t", bad, create_segment=True)
    got = dict(_current(lh))
    assert got["9"] == "123"  # cast to the declared String
    # and a DECIMAL into a declared-String column also round-trips
    dec = spark.createDataFrame(
        [("8", ts(2024, 2, 2))], "key string, event_time timestamp"
    ).select("key", "event_time", F.lit(1.5).cast("decimal(3,1)").alias("value"))
    append_delta(spark, f"{tmp_path}/t", dec)
    assert dict(_current(lh))["8"] == "1.5"


def test_evolve_races_upserts_without_loss(spark, tmp_path):
    """Schema evolution publishes through the same CAS as data commits:
    a RENAME racing a stream of upserts must neither lose a committed
    delta nor publish a half-applied schema. The evolve side retries on
    conflict (it is metadata-only, so re-deriving is re-running); the
    upsert side uses the standard retry loop. Afterwards: schema is
    renamed, every upsert's key is present, validation is clean."""
    import threading

    from bazof_spark.errors import CommitConflictError
    from bazof_spark.maintenance import evolve_table_schema, validate_table
    from bazof_spark.writer import upsert_with_retry

    lh = _seed_table(spark, str(tmp_path))
    table_path = f"{tmp_path}/t"
    n_each = 5
    errors: list[BaseException] = []

    def writer_thread():
        try:
            for i in range(n_each):
                upsert_with_retry(
                    spark,
                    table_path,
                    _df(spark, [(f"w{i}", ts(2024, 2, 1 + i), f"v{i}")]),
                    retries=50,
                )
        except BaseException as exc:
            errors.append(exc)

    def evolve_thread():
        try:
            for attempt in range(50):
                try:
                    evolve_table_schema(lh, "t", rename={"value": "val2"})
                    return
                except CommitConflictError:
                    continue
            raise AssertionError("evolve never committed")
        except BaseException as exc:
            errors.append(exc)

    threads = [
        threading.Thread(target=writer_thread),
        threading.Thread(target=evolve_thread),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    snap = lh.table("t").get_current_snapshot()
    assert [c.name for c in snap.schema.columns] == ["val2"]
    assert "value" in snap.schema.former_names()
    got = {r["key"]: r["val2"] for r in lh.scan("t").collect()}
    for i in range(n_each):
        assert got.get(f"w{i}") == f"v{i}", (i, got)
    report = validate_table(lh, "t")
    assert not report.errors, report.errors


def test_append_accepts_former_column_spelling(spark, tmp_path):
    """After a RENAME, a producer still shipping the former column name
    keeps working: the writer maps it to the declared name (files store
    the new spelling). A batch with BOTH spellings errors loudly."""
    from bazof_spark import Lakehouse
    from bazof_spark.maintenance import evolve_table_schema
    from bazof_spark.writer import append_delta

    lh = _seed_table(spark, str(tmp_path))
    evolve_table_schema(lh, "t", rename={"value": "val2"})
    # old producer: schema still says 'value'
    append_delta(spark, f"{tmp_path}/t", _df(spark, [("9", ts(2024, 2, 1), "v9")]))
    got = {r["key"]: r["val2"] for r in lh.scan("t").collect()}
    assert got["9"] == "v9"
    both = spark.createDataFrame(
        [("x", ts(2024, 3, 1), "a", "b")],
        "key string, event_time timestamp, value string, val2 string",
    )
    with pytest.raises(BazofError, match="ambiguous"):
        append_delta(spark, f"{tmp_path}/t", both)


def test_append_rejects_two_former_spellings(spark, tmp_path):
    """A twice-renamed column has TWO former spellings; a batch carrying
    both (old producer shipping value AND val2 after value→val2→val3)
    is as ambiguous as declared+former — it must error loudly, not remap
    the first and silently drop the second in the final select."""
    from bazof_spark.maintenance import evolve_table_schema
    from bazof_spark.writer import append_delta

    lh = _seed_table(spark, str(tmp_path))
    evolve_table_schema(lh, "t", rename={"value": "val2"})
    evolve_table_schema(lh, "t", rename={"val2": "val3"})
    both_formers = spark.createDataFrame(
        [("x", ts(2024, 3, 1), "a", "b")],
        "key string, event_time timestamp, value string, val2 string",
    )
    with pytest.raises(BazofError, match="former spellings"):
        append_delta(spark, f"{tmp_path}/t", both_formers)
    # exactly ONE former spelling still remaps fine after two renames
    append_delta(
        spark, f"{tmp_path}/t", _df(spark, [("9", ts(2024, 2, 1), "v9")])
    )
    got = {r["key"]: r["val3"] for r in lh.scan("t").collect()}
    assert got["9"] == "v9"


def test_evolve_rejects_rename_target_colliding_with_add(spark, tmp_path):
    """evolve(add=[X], rename={Y:X}) used to pass both per-list guards
    and commit a snapshot with two 'X' columns, breaking every later
    scan until RESTORE. Both the explicit guard and the TableSchema
    duplicate-name invariant must refuse it — and the table must stay
    readable at its pre-statement version."""
    from bazof_spark.maintenance import evolve_table_schema
    from bazof_spark.schema import ColumnDef, ColumnType

    lh = _seed_table(spark, str(tmp_path))
    before = {r["key"]: r["value"] for r in lh.scan("t").collect()}
    with pytest.raises(BazofError, match="collides with a column added"):
        evolve_table_schema(
            lh,
            "t",
            add=[ColumnDef("x", ColumnType.INT, True)],
            rename={"value": "x"},
        )
    # no corrupt snapshot landed
    assert {r["key"]: r["value"] for r in lh.scan("t").collect()} == before


def test_table_schema_rejects_duplicate_names():
    """The duplicate-name invariant holds at TableSchema construction —
    no caller can serialize a snapshot whose schema is ambiguous."""
    from bazof_spark.errors import MetadataError
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema

    with pytest.raises(MetadataError, match="duplicate column name"):
        TableSchema(
            (
                ColumnDef("x", ColumnType.INT, True),
                ColumnDef("x", ColumnType.STRING, True),
            )
        )


def test_merge_apply_atomic_single_version(spark, tmp_path):
    """writer.merge_apply: upsert rows AND tombstones land in ONE
    snapshot (one version bump, both effects visible together), empty
    inputs are a version no-op, and a moved pointer raises
    CommitConflictError before anything is written."""
    from bazof_spark.errors import CommitConflictError
    from bazof_spark.writer import merge_apply

    lh = _seed_table(spark, str(tmp_path))
    path = f"{tmp_path}/t"
    v0 = lh.table("t").current_version()
    snap = merge_apply(
        spark,
        path,
        upsert_df=_df(spark, [("3", ts(2024, 2, 1), "c1")]),
        delete_keys_df=spark.createDataFrame([("1",)], "key string"),
        expected_version=v0,
    )
    v1 = lh.table("t").current_version()
    assert int(v1) == int(v0) + 1  # ONE commit for both effects
    assert _current(lh) == [("2", "b1"), ("3", "c1")]
    # both delta files are in the SAME snapshot
    files = snap.get_data_files()
    assert len(files) == len(
        lh.table("t").get_snapshot(v0).get_data_files()
    ) + 2
    # time travel: pre-merge version intact
    assert _current(lh, version=v0) == [("1", "a1"), ("2", "b1")]

    # empty inputs: version no-op (and never flips delete-capable)
    assert merge_apply(
        spark,
        path,
        upsert_df=_df(spark, []),
        delete_keys_df=spark.createDataFrame([], "key string"),
    ) is not None
    assert lh.table("t").current_version() == v1

    # stale expected_version: conflict, nothing committed
    with pytest.raises(CommitConflictError):
        merge_apply(
            spark,
            path,
            upsert_df=_df(spark, [("9", ts(2024, 3, 1), "z")]),
            expected_version=v0,
        )
    assert lh.table("t").current_version() == v1


def _spark_jobs(spark, fn):
    """(fn's result, number of Spark jobs it ran) — counted by job group
    once the listener bus has recorded every job start."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_driver_side_commits_run_one_job_per_file(spark, tmp_path):
    """The driver-side write path materializes each file's batch once
    (toArrow) and validates, bounds and sorts it in Arrow: an upsert is
    exactly ONE Spark job, a MERGE with upsert and delete rows at most
    two, and no path leaves a persisted RDD behind — not even when the
    invariant check rejects the batch."""
    from bazof_spark.writer import merge_apply

    lh = _seed_table(spark, str(tmp_path))
    path = f"{tmp_path}/t"
    held = _persistent_rdds(spark)
    rows = [(str(k), ts(2024, 2, 1 + k % 20), f"v{k}") for k in range(300)]
    batch = _df(spark, rows)
    _, jobs = _spark_jobs(spark, lambda: append_delta(spark, path, batch))
    assert jobs == 1
    assert _persistent_rdds(spark) == held

    up = _df(spark, [("7", ts(2024, 4, 1), "m7"), ("8", ts(2024, 4, 1), "m8")])
    dels = spark.createDataFrame([("1",), ("2",), ("2",)], "key string")
    _, jobs = _spark_jobs(
        spark,
        lambda: merge_apply(spark, path, upsert_df=up, delete_keys_df=dels),
    )
    assert jobs <= 2
    assert _persistent_rdds(spark) == held
    cur = dict(_current(lh))
    assert "1" not in cur and "2" not in cur and cur["7"] == "m7"

    version = lh.table("t").current_version()
    dup = _df(spark, [("5", ts(2024, 5, 1), "x"), ("5", ts(2024, 5, 1), "y")])
    with pytest.raises(BazofError, match="duplicate"):
        append_delta(spark, path, dup)
    with pytest.raises(BazofError, match="duplicate"):
        merge_apply(spark, path, upsert_df=dup)
    assert _persistent_rdds(spark) == held
    assert lh.table("t").current_version() == version


def test_arrow_invariant_check_matches_spark(spark, tmp_path):
    """The Arrow twin of validate_data_file_invariants rejects exactly
    the batches the Spark check rejects, with the same duplicate-pair
    count and error text — null keys and null event times group like
    any value. validate=False still writes duplicates, an empty batch
    still raises, and rows sharing one event_time keep input order."""
    import pyarrow.parquet as pq

    from bazof_spark.writer import (
        arrow_duplicate_pairs,
        validate_data_file_invariants,
    )

    lh = _seed_table(spark, str(tmp_path))
    path = f"{tmp_path}/t"
    a, b = ts(2024, 5, 1), ts(2024, 5, 2)
    batches = {
        "unique": [("1", a, "x"), ("1", b, "y"), ("2", a, "z")],
        "one pair": [("1", a, "x"), ("1", a, "y"), ("2", a, "z")],
        "triple + pair": [("1", a, "x"), ("1", a, "y"), ("1", a, "w"),
                          ("2", b, "p"), ("2", b, "q"), ("3", b, "r")],
        "null keys": [(None, a, "x"), (None, a, "y"), (None, b, "z")],
        "null times": [("1", None, "x"), ("1", None, "y"), ("2", None, "z")],
        "all null": [(None, None, "x"), (None, None, "y")],
    }
    ddl = "key string, event_time timestamp, value string"
    for label, rows in batches.items():
        df = spark.createDataFrame(rows, ddl)
        spark_dupes = (
            df.groupBy("key", "event_time").count().filter("count > 1").count()
        )
        assert arrow_duplicate_pairs(df.toArrow()) == spark_dupes, label
        if not spark_dupes:
            validate_data_file_invariants(df)
            continue
        with pytest.raises(BazofError) as via_spark:
            validate_data_file_invariants(df)
        version = lh.table("t").current_version()
        with pytest.raises(BazofError) as via_arrow:
            append_delta(spark, path, df)
        assert str(via_arrow.value) == str(via_spark.value), label
        assert str(via_arrow.value).startswith(f"{spark_dupes} duplicate")
        assert lh.table("t").current_version() == version

    snap = append_delta(
        spark, path,
        spark.createDataFrame(batches["one pair"], ddl), validate=False,
    )
    newest = snap.segments[-1].delta[0].file
    assert pq.read_table(f"{path}/{newest}").num_rows == 3

    with pytest.raises(BazofError, match="cannot upsert an empty batch"):
        append_delta(spark, path, spark.createDataFrame([], ddl))

    order = ["k9", "k1", "k5", "k3", "k7"]
    snap = append_delta(
        spark, path,
        spark.createDataFrame([(k, b, k) for k in order], ddl),
    )
    newest = snap.segments[-1].delta[0].file
    assert pq.read_table(f"{path}/{newest}")["key"].to_pylist() == order
