"""restore_table (version rollback) + vacuum_table (unreferenced-file
GC) — maintenance surfaces over the format's single mutable pointer
(crates/azof/src/table.rs:35-41)."""

import os
import time
from datetime import datetime, timezone

import pytest

from bazof_spark.errors import BazofError
from bazof_spark.lakehouse import Lakehouse
from bazof_spark.maintenance import restore_table, vacuum_table, validate_table
from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
from bazof_spark.writer import TableWriter


def ts(y, m, d):
    return datetime(y, m, d, tzinfo=timezone.utc)


SCHEMA = TableSchema((ColumnDef("value", ColumnType.STRING, False),))


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, t, v) for k, t, v in rows], SCHEMA.to_struct_type()
    )


def _seed(spark, root):
    w = TableWriter(spark, f"{root}/t", SCHEMA)
    w.add_segment(
        "10",
        ts(2024, 1, 1),
        base_df=_df(spark, [("1", ts(2024, 1, 1), "a1")]),
    )
    w.commit()
    lh = Lakehouse(spark, root)
    lh.upsert("t", _df(spark, [("1", ts(2024, 2, 1), "a2")]))  # v2
    lh.upsert("t", _df(spark, [("1", ts(2024, 3, 1), "a3")]))  # v3
    return lh


def _val(lh, **kw):
    [r] = lh.scan("t", **kw).select("value").collect()
    return r[0]


def test_restore_republishes_as_new_version(spark, tmp_path):
    lh = _seed(spark, str(tmp_path))
    assert _val(lh) == "a3"

    restore_table(lh, "t", 2)
    # pointer moved FORWARD to a copy of v2 — s3.json is not overwritten
    assert lh.table("t").current_version() == "4"
    assert _val(lh) == "a2"
    assert _val(lh, version=3) == "a3"  # abandoned branch still readable

    # an upsert after restore continues the linear history
    lh.upsert("t", _df(spark, [("1", ts(2024, 4, 1), "a4")]))
    assert lh.table("t").current_version() == "5"
    assert _val(lh) == "a4"
    validate_table(lh, "t").raise_if_invalid()


def test_vacuum_gc_and_retention(spark, tmp_path):
    root = str(tmp_path)
    lh = _seed(spark, root)  # v1..v3
    tdir = f"{root}/t"
    # crashed-write debris: a JVM job dir and both pyarrow stage dirs
    debris = ["_ds_stage_0123456789ab", "_x_job", "_x_stage-0123456789ab"]
    for d in debris:
        os.makedirs(os.path.join(tdir, d))
    # a data file no snapshot references
    with open(os.path.join(tdir, "orphan.parquet"), "wb") as f:
        f.write(b"junk")

    # retention guard: the orphan is YOUNG (just created) — default
    # min_age_s must protect it (it could be an in-flight commit's
    # staged delta); snapshot GC proceeds regardless (guard-serialized)
    young = vacuum_table(lh, "t", keep_versions=1, dry_run=True)
    assert "orphan.parquet" not in young["removed_files"]
    assert young["removed_dirs"] == []

    dry = vacuum_table(lh, "t", keep_versions=1, dry_run=True, min_age_s=0)
    assert "orphan.parquet" in dry["removed_files"]
    assert os.path.exists(os.path.join(tdir, "orphan.parquet"))  # dry!

    # aged debris is collected even with the default retention window
    old = time.time() - 7200
    os.utime(os.path.join(tdir, "orphan.parquet"), (old, old))
    for d in debris:
        os.utime(os.path.join(tdir, d), (old, old))
    result = vacuum_table(lh, "t", keep_versions=1)
    assert result["removed_snapshots"] == ["s1.json", "s2.json"]
    assert "orphan.parquet" in result["removed_files"]
    assert result["removed_dirs"] == debris
    assert not any(os.path.exists(os.path.join(tdir, d)) for d in debris)
    # deltas of v3 are all still referenced → still on disk; scan works
    assert _val(lh) == "a3"
    validate_table(lh, "t").raise_if_invalid()


def test_restore_to_vacuumed_version_fails_cleanly(spark, tmp_path):
    lh = _seed(spark, str(tmp_path))
    vacuum_table(lh, "t", keep_versions=1)
    from bazof_spark.errors import TableNotFoundError

    with pytest.raises(TableNotFoundError):
        restore_table(lh, "t", 1)  # s1.json was GC'd


def test_vacuum_keep_versions_guard(spark, tmp_path):
    lh = _seed(spark, str(tmp_path))
    with pytest.raises(BazofError, match="keep_versions"):
        vacuum_table(lh, "t", keep_versions=0)


def test_history_lineage(spark, tmp_path):
    lh = _seed(spark, str(tmp_path))  # v1 + two upserts
    hist = lh.history("t")
    assert [h["version"] for h in hist] == ["1", "2", "3"]
    assert [h["is_current"] for h in hist] == [False, False, True]
    assert hist[0]["n_files_current"] == 1  # base only
    assert hist[2]["n_files_current"] == 3  # base + 2 deltas

    restore_table(lh, "t", 2)
    hist = lh.history("t")
    assert hist[-1]["version"] == "4" and hist[-1]["is_current"]
    assert hist[-1]["n_files_current"] == hist[1]["n_files_current"]


def test_maintenance_publishers_respect_commit_lock(spark, tmp_path):
    """restore / evolve publish through the SAME locked CAS as writer
    commits (review finding: they previously wrote unguarded and could
    silently overwrite a racing writer's commit): with a fresh foreign
    lock held, both raise CommitConflictError and leave no partial
    state; after the lock clears they succeed."""
    from bazof_spark.errors import CommitConflictError
    from bazof_spark.maintenance import evolve_table_schema

    lh = _seed(spark, str(tmp_path))
    table_path = os.path.join(str(tmp_path), "t")
    lock = os.path.join(table_path, "version.txt.lock")
    open(lock, "w").close()
    with pytest.raises(CommitConflictError):
        restore_table(lh, "t", 1)
    with pytest.raises(CommitConflictError):
        evolve_table_schema(
            lh, "t", add=[ColumnDef("note", ColumnType.STRING, True)]
        )
    assert lh.table("t").current_version() == "3"
    assert not os.path.exists(os.path.join(table_path, "s4.json"))

    os.unlink(lock)
    restore_table(lh, "t", 1)
    assert lh.table("t").current_version() == "4"


def test_vacuum_retains_young_above_pointer_snapshot(spark, tmp_path):
    """On UNGUARDED schemes a concurrent commit's s{N}.json can exist
    above the pointer inside its write->flip window; sweeping it would
    leave version.txt pointing at a missing snapshot. min_age_s
    retention must protect young above-pointer snapshots (and young
    staged snapshots) exactly like young staged parquet; aged ones are
    abandoned publishes and get collected."""
    lh = _seed(spark, str(tmp_path))  # v1..v3, pointer = 3
    tdir = f"{tmp_path}/t"
    for name in ("s4.json", "s5.json.stage-deadbeef"):
        with open(os.path.join(tdir, name), "w", encoding="utf-8") as f:
            f.write("{}")

    young = vacuum_table(lh, "t", keep_versions=1, dry_run=True)
    assert "s4.json" not in young["removed_snapshots"]
    assert "s5.json.stage-deadbeef" not in young["removed_files"]

    old = time.time() - 7200
    for name in ("s4.json", "s5.json.stage-deadbeef"):
        os.utime(os.path.join(tdir, name), (old, old))
    result = vacuum_table(lh, "t", keep_versions=1)
    assert "s4.json" in result["removed_snapshots"]
    assert "s5.json.stage-deadbeef" in result["removed_files"]
    assert not os.path.exists(os.path.join(tdir, "s4.json"))
    # table still healthy
    assert _val(lh) == "a3"
    validate_table(lh, "t").raise_if_invalid()
