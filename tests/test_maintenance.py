"""Checkpoint compaction + validation (reference roadmap items,
README.md:150-160): post-checkpoint reads must be bit-identical for
Current AND for historical as-of instants (which resolve through the
now-closed segments)."""

import os
from datetime import datetime, timezone

import pytest

from bazof_spark.errors import BazofError
from bazof_spark.lakehouse import Lakehouse
from bazof_spark.maintenance import (
    checkpoint_table,
    evolve_table_schema,
    validate_snapshot,
    validate_table,
)
from bazof_spark.metadata import Snapshot
from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
from bazof_spark.writer import TableWriter


def ts(d, h=0):
    return datetime(2024, 1, d, h, tzinfo=timezone.utc)


SCHEMA = TableSchema((ColumnDef("value", ColumnType.STRING, False),))


def rows(spark, *data):
    return spark.createDataFrame(list(data), SCHEMA.to_struct_type())


@pytest.fixture()
def lakehouse(spark, tmp_path):
    w = TableWriter(spark, str(tmp_path / "t"), SCHEMA)
    seg = w.add_segment(
        "s1", ts(1), base_df=rows(spark, ("k1", ts(1), "a1"), ("k2", ts(1), "b1"))
    )
    seg.add_delta(
        rows(spark, ("k1", ts(3), "a2"), ("k3", ts(4), "c1")),
        start=ts(3),
        end=ts(5),
    )
    seg.add_delta(
        # late data: k2's update carries an OLD event_time; delta
        # precedence makes it win over the base for t >= 6 only
        rows(spark, ("k2", ts(2), "b2")),
        start=ts(6),
        end=ts(7),
    )
    w.commit()
    return Lakehouse(spark, str(tmp_path))


def snap(df):
    return sorted(tuple(r) for r in df.collect())


def test_checkpoint_preserves_reads(spark, lakehouse):
    before_current = snap(lakehouse.scan("t"))
    before_t5 = snap(lakehouse.scan("t", as_of=ts(5)))
    before_t2 = snap(lakehouse.scan("t", as_of=ts(2)))

    checkpoint_table(lakehouse, "t", at=ts(10))

    table = lakehouse.table("t")
    assert table.current_version() == "2"
    # exactly one file serves Current now
    assert len(table.get_current_snapshot().get_data_files()) == 1

    assert snap(lakehouse.scan("t")) == before_current
    assert snap(lakehouse.scan("t", as_of=ts(5))) == before_t5
    assert snap(lakehouse.scan("t", as_of=ts(2))) == before_t2
    # post-checkpoint instants resolve via the new base
    assert snap(lakehouse.scan("t", as_of=ts(11))) == before_current
    # the old snapshot remains readable (immutable versions)
    assert table.get_snapshot("1").get_data_files()


def test_checkpoint_then_new_deltas(spark, lakehouse):
    snapshot = checkpoint_table(lakehouse, "t", at=ts(10))
    # append new upserts into the checkpoint segment via the writer API
    w = TableWriter(lakehouse.spark, lakehouse.table("t").path, SCHEMA)
    w._segments = [s.to_json() for s in snapshot.segments]
    from bazof_spark.writer import SegmentBuilder

    SegmentBuilder(w, w._segments[-1]).add_delta(
        rows(spark, ("k1", ts(12), "a3")), start=ts(12), end=ts(13)
    )
    w.commit(version="3")

    got = dict(
        (r["key"], r["value"]) for r in lakehouse.scan("t").collect()
    )
    assert got == {"k1": "a3", "k2": "b2", "k3": "c1"}
    # historical read through closed segments still intact
    t2 = dict((r["key"], r["value"]) for r in lakehouse.scan("t", as_of=ts(2)).collect())
    assert t2 == {"k1": "a1", "k2": "b1"}


def test_schema_evolution_add_and_drop(spark, lakehouse):
    before = snap(lakehouse.scan("t"))

    evolve_table_schema(
        lakehouse, "t", add=[ColumnDef("score", ColumnType.INT, True)]
    )
    table = lakehouse.table("t")
    assert table.current_version() == "2"

    # old files null-fill the new column; existing values unchanged
    evolved = lakehouse.scan("t")
    assert evolved.columns == ["key", "event_time", "value", "score"]
    got = {r["key"]: (r["value"], r["score"]) for r in evolved.collect()}
    assert all(score is None for _, score in got.values())
    assert {k: v for k, (v, _) in got.items()} == {
        r[0]: r[2] for r in before
    }

    # a new delta carrying the evolved column round-trips values
    # (appended to the existing open segment: azof precedence is
    # document order, so a separate overlapping segment would be
    # shadowed by s1 — new data belongs in the open segment)
    evolved_schema = table.get_current_snapshot().schema
    w = TableWriter(spark, table.path, evolved_schema)
    w._segments = [s.to_json() for s in table.get_snapshot("1").segments]
    from bazof_spark.writer import SegmentBuilder

    SegmentBuilder(w, w._segments[0]).add_delta(
        spark.createDataFrame(
            [("k1", ts(9), "a9", 42)], evolved_schema.to_struct_type()
        ),
        start=ts(9),
        end=ts(10),
    )
    w.commit(version="3")
    got3 = {r["key"]: (r["value"], r["score"]) for r in lakehouse.scan("t").collect()}
    assert got3["k1"] == ("a9", 42)
    assert got3["k2"] == ("b2", None)

    # drop it again: metadata-only, data files untouched
    evolve_table_schema(lakehouse, "t", drop=["score"])
    assert lakehouse.scan("t").columns == ["key", "event_time", "value"]

    with pytest.raises(BazofError):
        evolve_table_schema(
            lakehouse, "t", add=[ColumnDef("x", ColumnType.INT, False)]
        )
    with pytest.raises(BazofError):
        evolve_table_schema(lakehouse, "t", drop=["key"])


def test_validate_snapshot_structure():
    good = Snapshot.deserialize(
        '{"schema": {"columns": [{"name": "v", "data_type": "String"}]},'
        ' "segments": [{"id": "s1", "start": "2024-01-01T00:00:00.000Z"}]}'
    )
    assert validate_snapshot(good).ok

    bad = Snapshot.deserialize(
        '{"schema": {"columns": [{"name": "v", "data_type": "String"}]},'
        ' "segments": ['
        '{"id": "s1", "start": "2024-02-01T00:00:00.000Z",'
        ' "end": "2024-01-01T00:00:00.000Z"},'
        '{"id": "s1", "start": "2024-01-01T00:00:00.000Z"}]}'
    )
    report = validate_snapshot(bad)
    assert not report.ok
    assert any("end < start" in e for e in report.errors)
    assert any("duplicate segment id" in e for e in report.errors)
    with pytest.raises(BazofError):
        report.raise_if_invalid()


def test_checkpoint_financials_reference_tree(spark, tmp_path, reference_data):
    """Checkpoint the reference's own 171-file nested financials tree
    (copied): reads must be identical at historical instants, and
    Current must collapse to one file."""
    import shutil

    shutil.copytree(
        os.path.join(reference_data, "financials"), str(tmp_path / "financials")
    )
    lh = Lakehouse(spark, str(tmp_path))
    instants = [
        None,  # Current
        datetime(2019, 1, 17, tzinfo=timezone.utc),
        datetime(2009, 6, 30, tzinfo=timezone.utc),
        datetime(2021, 3, 1, tzinfo=timezone.utc),
    ]
    before = [snap(lh.scan("financials", as_of=t)) for t in instants]
    checkpoint_table(
        lh, "financials", at=datetime(2022, 1, 1, tzinfo=timezone.utc)
    )
    table = lh.table("financials")
    assert table.current_version() == "2"
    assert len(table.get_current_snapshot().get_data_files()) == 1
    after = [snap(lh.scan("financials", as_of=t)) for t in instants]
    assert before == after


def test_validate_table_files(spark, lakehouse):
    assert validate_table(lakehouse, "t").ok
    # remove a data file → error
    table = lakehouse.table("t")
    victim = table.data_file_path(
        table.get_current_snapshot().get_data_files()[0]
    )
    os.remove(victim)
    report = validate_table(lakehouse, "t")
    assert any("missing" in e for e in report.errors)


def test_checkpoint_refuses_non_canonical_segment_order(spark, tmp_path):
    """An open segment preceding a closed one is legal in the format but
    checkpoint_table would reorder it (closed first), handing the closed
    segment's always-eligible deltas precedence they never had — it must
    refuse (ADVICE r1, maintenance.py)."""
    w = TableWriter(spark, str(tmp_path / "t"), SCHEMA)
    w.add_segment("open_first", ts(1), base_df=rows(spark, ("k1", ts(1), "open")))
    closed = w.add_segment(
        "closed_second",
        ts(1),
        end=ts(10),
        base_df=rows(spark, ("k2", ts(1), "closed")),
    )
    closed.add_delta(rows(spark, ("k1", ts(2), "leak")), start=ts(2), end=ts(3))
    w.commit()
    lh = Lakehouse(spark, str(tmp_path))
    with pytest.raises(BazofError, match="canonical"):
        checkpoint_table(
            lh, "t", at=datetime(2024, 6, 1, tzinfo=timezone.utc)
        )


def test_validate_table_flags_unsorted_file(spark, lakehouse):
    """Files not sorted event_time DESC make our max-event-time winner
    diverge from the reference's first-row-wins — but ONLY where a key
    repeats within the file. Unique-key unsorted files (Z-order
    clustered bases) are order-independent: warning, not error
    (ADVICE r1, lakehouse.py winner selection)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    assert validate_table(lakehouse, "t").ok
    table = lakehouse.table("t")
    # rewrite every file ascending by event_time (writer emits DESC);
    # at least one file has distinct timestamps, so order must flip
    for f in table.get_current_snapshot().get_data_files():
        victim = table.data_file_path(f)
        old = pq.read_table(victim)
        idx = pa.compute.sort_indices(
            old, sort_keys=[("event_time", "ascending")]
        )
        pq.write_table(old.take(idx), victim)
    # every fixture file holds each key once → order-independent merge
    report = validate_table(lakehouse, "t")
    assert not any("sorted event_time DESC" in e for e in report.errors)
    assert any("order-independent" in w for w in report.warnings)

    # now make the unsorted files repeat a key: genuine divergence
    # (at least one file has ≥2 distinct timestamps, so it stays
    # unsorted after the ascending rewrite)
    for f in table.get_current_snapshot().get_data_files():
        victim = table.data_file_path(f)
        old = pq.read_table(victim)
        dup = pa.concat_tables([old, old.slice(0, 1)])
        idx = pa.compute.sort_indices(
            dup, sort_keys=[("event_time", "ascending")]
        )
        pq.write_table(dup.take(idx), victim)
    report = validate_table(lakehouse, "t")
    assert any("repeat keys" in e for e in report.errors)


def test_checkpoint_refuses_delta_before_open_segment_start(spark, tmp_path):
    """A delta starting BEFORE its open top-level segment's start is
    always eligible at the root (no range check there) but becomes
    unreachable for t < segment.start once the checkpoint wraps the
    segment under a range-checked parent — checkpoint must refuse.
    (The writer never emits this; foreign metadata can.)"""
    w = TableWriter(spark, str(tmp_path / "t"), SCHEMA)
    seg = w.add_segment(
        "s1", ts(5), base_df=rows(spark, ("k1", ts(5), "base"))
    )
    seg.add_delta(
        rows(spark, ("k2", ts(2), "early")), start=ts(2), end=ts(3)
    )
    w.commit()
    lh = Lakehouse(spark, str(tmp_path))
    with pytest.raises(BazofError, match="before the segment"):
        checkpoint_table(
            lh, "t", at=datetime(2024, 6, 1, tzinfo=timezone.utc)
        )


def test_checkpoint_on_file_uri_root(spark, tmp_path):
    """checkpoint_table accepts file:// roots: reads stay bit-identical
    and Current collapses to one file, same as on a plain path."""
    w = TableWriter(spark, str(tmp_path / "t"), SCHEMA)
    seg = w.add_segment(
        "s1", ts(1), base_df=rows(spark, ("k1", ts(1), "a1"))
    )
    seg.add_delta(rows(spark, ("k1", ts(3), "a2")), start=ts(3), end=ts(4))
    w.commit()

    lh = Lakehouse(spark, "file://" + str(tmp_path))
    before = snap(lh.scan("t"))
    checkpoint_table(lh, "t", at=ts(10))
    table = lh.table("t")
    assert table.current_version() == "2"
    assert len(table.get_current_snapshot().get_data_files()) == 1
    assert snap(lh.scan("t")) == before

    # object-store roots are no longer refused: the merged-state scan
    # routes through the Python Data Source (round 9) — a nonexistent
    # bucket now fails at metadata resolution, like any missing table
    # (end-to-end coverage on a REAL s3 server:
    # tests/test_object_store_real.py::
    # test_checkpoint_and_optimize_over_real_s3)


def test_late_write_after_checkpoint_semantics(spark, tmp_path):
    """Codified semantics for a commit whose event_time PRECEDES an
    already-published checkpoint's ``at`` (the late-arrival case
    ``_check_nothing_beyond`` cannot guard — it only covers data
    committed before the checkpoint): the late delta lands in the
    post-checkpoint open segment, so Current and every as-of ≥ the
    checkpoint instant see it (file precedence beats the compacted
    base), while as-of instants from its event_time THROUGH the
    checkpoint instant keep the pre-checkpoint answer — compaction
    froze that span of history, and the boundary instant itself
    belongs to the frozen side (segment ranges are inclusive,
    metadata.rs:75-86, so at exactly ``at`` the archived wrapper
    outranks the open segment). The cross-process stress
    (tests/test_concurrency_stress.py) leans on this: per-commit
    as-of assertions under a racing checkpointer would encode a
    race, not a correctness property."""
    from bazof_spark.writer import append_delta

    path = str(tmp_path / "t")
    w = TableWriter(spark, path, SCHEMA)
    seg = w.add_segment("s1", ts(1))
    seg.add_delta(rows(spark, ("k1", ts(1), "seed")), ts(1), ts(1))
    w.commit()
    lh = Lakehouse(spark, str(tmp_path))
    checkpoint_table(lh, "t", at=ts(5))
    # late arrival: event_time ts(3) < the checkpoint instant ts(5)
    append_delta(spark, path, rows(spark, ("k1", ts(3), "late")))

    def val(as_of=None):
        [r] = lh.scan("t", as_of=as_of).collect()
        return r["value"]

    assert val() == "late"  # Current
    assert val(ts(6)) == "late"  # after the checkpoint instant
    assert val(ts(5)) == "seed"  # the boundary instant is frozen too
    assert val(ts(4)) == "seed"  # frozen span [ts(3), ts(5)]
    assert val(ts(2)) == "seed"  # before the late event_time
    validate_table(lh, "t").raise_if_invalid()


def test_checkpoint_races_live_upserts_loses_nothing(spark, lakehouse, tmp_path):
    """Compaction under concurrency (round-5 verdict task 7): a
    checkpoint loop racing live upsert threads through the shared
    commit CAS must never lose a committed row. Every checkpoint
    publish re-checks the version pointer under the commit guard, so a
    delta landing between the state scan and the flip forces a
    recompute instead of being silently folded away; upserts losing the
    pointer race re-derive and retry. Post-conditions: the final scan
    holds every upserted key, and the per-version key→value maps are
    MONOTONE (each key written exactly once ⇒ no intermediate snapshot
    may drop a previously-committed key)."""
    import threading
    import time as _time

    from bazof_spark.errors import CommitConflictError
    from bazof_spark.maintenance import checkpoint_table, validate_table
    from bazof_spark.writer import upsert_with_retry

    lh = lakehouse
    table_path = lh.table("t").path
    n_each = 4
    errors: list[BaseException] = []

    def writer_thread(tag: str):
        try:
            for i in range(n_each):
                upsert_with_retry(
                    spark,
                    table_path,
                    rows(spark, (f"{tag}{i}", ts(10 + i), f"v_{tag}{i}")),
                    retries=100,
                )
        except BaseException as exc:
            errors.append(exc)

    threads = [
        threading.Thread(target=writer_thread, args=(t,)) for t in ("x", "y")
    ]
    for t in threads:
        t.start()
    # checkpoint loop racing the writers: each checkpoint retries until
    # it wins a CAS round (at must cover all committed event times)
    for k in range(2):
        for attempt in range(100):
            try:
                checkpoint_table(lh, "t", at=ts(20 + k))
                break
            except CommitConflictError:
                _time.sleep(0.05)
        else:
            raise AssertionError("checkpoint never won a commit round")
    for t in threads:
        t.join()
    assert not errors, errors

    final = {r["key"]: r["value"] for r in lh.scan("t").collect()}
    for tag in ("x", "y"):
        for i in range(n_each):
            assert final.get(f"{tag}{i}") == f"v_{tag}{i}", (tag, i, final)
    validate_table(lh, "t").raise_if_invalid()

    # monotone per-version content: no snapshot lost a committed key
    from bazof_spark.maintenance import _numeric_versions

    prev: dict[str, str] = {}
    for v in sorted(_numeric_versions(table_path)):
        cur = {
            r["key"]: r["value"]
            for r in lh.scan("t", version=v).collect()
        }
        missing = {k: prev[k] for k in prev if k not in cur or cur[k] != prev[k]}
        assert not missing, (v, missing)
        prev = cur


def test_checkpoint_preserves_key_blooms(spark, lakehouse):
    """Checkpoint must not silently degrade point-lookup pruning: the
    archived wrapper's children keep their base-file blooms, and the
    new merged base gets its own (built at commit time, self-gated on
    the cardinality budget). Absent blooms stay correct (always admit)
    but lose the file-skipping the stats exist for."""
    before = lakehouse.table("t").get_current_snapshot()
    [open_seg] = [s for s in before.segments if s.end is None]
    assert open_seg.key_bloom is not None  # writer recorded one

    checkpoint_table(lakehouse, "t", at=ts(10))
    after = lakehouse.table("t").get_current_snapshot()

    [base] = [s for s in after.segments if s.file and s.end is None]
    assert base.key_bloom is not None
    for k in ("k1", "k2", "k3"):
        assert base.key_bloom.might_contain(k)
    assert not base.key_bloom.might_contain("absent-key-zzz")

    [wrapper] = [s for s in after.segments if s.segments]
    [archived] = wrapper.segments
    assert archived.key_bloom is not None
    assert archived.key_bloom.to_json() == open_seg.key_bloom.to_json()


def test_checkpoint_keeps_recorded_file_sizes(spark, lakehouse, monkeypatch):
    """The archived bases keep their commit-time sizes, so the snapshot
    sizes every file of an as-of before the checkpoint and a historical
    keyed lookup plans its byte ranges without stat'ing a file."""
    from bazof_spark import datasource
    from bazof_spark.asof import EventTime

    want = snap(lakehouse.scan("t", as_of=ts(5), keys=["k1", "k3"]))
    checkpoint_table(lakehouse, "t", at=ts(10))
    table = lakehouse.table("t")
    after = table.get_current_snapshot()
    sizes = after.file_sizes()
    ranked = after.ranked_data_files(EventTime(ts(5)))
    assert ranked
    for f, _rank in ranked:
        assert sizes.get(f) == os.path.getsize(table.data_file_path(f)), f

    def no_stat(paths, env):
        raise AssertionError(f"stat of recorded files: {paths}")

    monkeypatch.setattr(datasource, "_file_sizes", no_stat)
    assert snap(lakehouse.scan("t", as_of=ts(5), keys=["k1", "k3"])) == want


INT_SCHEMA = TableSchema(
    (ColumnDef("value", ColumnType.STRING, False),
     ColumnDef("qty", ColumnType.INT, True))
)


def _int_rows(spark, *data):
    return spark.createDataFrame(list(data), INT_SCHEMA.to_struct_type())


def test_widen_records_the_rewritten_file_sizes(spark, tmp_path):
    """Every file the Int->Float widen rewrites is recorded with its
    own size, not the size of the file it replaces."""
    from bazof_spark.maintenance import evolve_table_schema
    from bazof_spark.writer import append_delta

    w = TableWriter(spark, str(tmp_path / "t"), INT_SCHEMA)
    w.add_segment(
        "s1", ts(1),
        base_df=_int_rows(spark, *[(f"k{i}", ts(1), f"v{i}" * i, i) for i in range(40)]),
    )
    w.commit()
    lh = Lakehouse(spark, str(tmp_path))
    append_delta(
        spark, str(tmp_path / "t"),
        _int_rows(spark, ("k1", ts(3), "w", 7), ("k2", ts(3), "x" * 30, None)),
    )
    evolve_table_schema(lh, "t", widen={"qty": ColumnType.FLOAT})
    table = lh.table("t")
    snapshot = table.get_current_snapshot()
    files = snapshot.get_data_files()
    assert len(files) == 2
    sizes = snapshot.file_sizes()
    for f in files:
        assert sizes.get(f) == os.path.getsize(table.data_file_path(f)), f


def test_widen_after_distributed_append_still_scans(spark, tmp_path):
    """A distributed append's JVM-written file stores event_time as
    INT96; the widen rewrite must write it back in a form the JVM
    parquet scan reads (µs), with the same instants and values."""
    from bazof_spark.maintenance import evolve_table_schema
    from bazof_spark.writer import append_delta

    w = TableWriter(spark, str(tmp_path / "t"), INT_SCHEMA)
    w.add_segment(
        "s1", ts(1),
        base_df=_int_rows(spark, ("k1", ts(1), "a1", 1), ("k2", ts(1), "b1", 2)),
    )
    w.commit()
    lh = Lakehouse(spark, str(tmp_path))
    append_delta(
        spark, str(tmp_path / "t"),
        _int_rows(spark, ("k1", ts(3), "a2", 10), ("k3", ts(3), "c1", None)),
        distributed=True,
    )
    evolve_table_schema(lh, "t", widen={"qty": ColumnType.FLOAT})
    assert snap(lh.scan("t")) == [
        ("k1", datetime(2024, 1, 3), "a2", 10.0),
        ("k2", datetime(2024, 1, 1), "b1", 2.0),
        ("k3", datetime(2024, 1, 3), "c1", None),
    ]
    assert snap(lh.scan("t", as_of=ts(2))) == [
        ("k1", datetime(2024, 1, 1), "a1", 1.0),
        ("k2", datetime(2024, 1, 1), "b1", 2.0),
    ]


def _write_plain(path, rows):
    """Overwrite a data file with plain pyarrow, rows in the given order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys, times, values = zip(*rows)
    pq.write_table(
        pa.table(
            {
                "key": pa.array(keys, pa.string()),
                "event_time": pa.array(times, pa.timestamp("us", tz="UTC")),
                "value": pa.array(values, pa.string()),
            }
        ),
        path,
    )


def test_validate_table_data_file_golden(spark, lakehouse):
    """Exact findings on three files written by plain pyarrow: one holds
    exactly 3 duplicate (key, event_time) pairs (sorted DESC), one is
    unsorted with unique keys, one is unsorted and repeats a key."""
    table = lakehouse.table("t")
    dupes, clustered, diverging = [
        table.data_file_path(f)
        for f in sorted(table.get_current_snapshot().get_data_files())
    ]
    _write_plain(
        dupes,
        [(k, ts(d), f"{k}{i}") for d, k in ((5, "a"), (4, "b"), (3, "c"))
         for i in (1, 2)],
    )
    _write_plain(clustered, [("x", ts(1), "x1"), ("y", ts(2), "y1")])
    _write_plain(diverging, [("p", ts(1), "p1"), ("p", ts(2), "p2")])
    report = validate_table(lakehouse, "t")
    assert report.warnings == [
        "3 duplicate (key, event_time) pairs within a data file; ties "
        "resolve to the first physical row (reference semantics)",
        "1 data files are not sorted event_time DESC but hold one row per "
        "key (clustered base layout); merge is order-independent there",
    ]
    assert report.errors == [
        "1 data files are not sorted event_time DESC and repeat keys; "
        "merge winner selection diverges from the reference's "
        "first-row-wins on unsorted files"
    ]


@pytest.mark.parametrize("root", ["local", "s3"])
def test_validate_table_runs_one_job_and_reads_no_file_on_the_driver(
    spark, tmp_path, monkeypatch, spark_jobs, root
):
    """The data checks are one Spark job on a local and an emulated
    s3:// root, and the driver resolves no data file for reading: the
    only data-file paths it resolves come from the existence probe."""
    import sys

    from bazof_spark import iofs, maintenance

    lake = str(tmp_path)
    if root == "s3":
        monkeypatch.setenv("BAZOF_FS_EMULATE", "s3")
        monkeypatch.setenv("BAZOF_FS_EMULATE_ROOT", str(tmp_path))
        lake = "s3://bucket/lake"
    w = TableWriter(spark, iofs.join(lake, "t"), SCHEMA)
    seg = w.add_segment(
        "s1", ts(1), base_df=rows(spark, ("k1", ts(1), "a1"), ("k2", ts(1), "b1"))
    )
    seg.add_delta(rows(spark, ("k1", ts(3), "a2")), start=ts(3), end=ts(5))
    w.commit()
    lh = Lakehouse(spark, lake)
    table = lh.table("t")
    data = {
        table.data_file_path(f)
        for f in table.get_current_snapshot().get_data_files()
    }
    opened: list[str] = []
    split = iofs._split

    def recording(path):
        if path in data and sys._getframe(1).f_code.co_name != "exists":
            opened.append(path)
        return split(path)

    monkeypatch.setattr(iofs, "_split", recording)
    with spark_jobs() as jobs:
        report = validate_table(lh, "t")
    assert report.errors == [] and report.warnings == []
    assert len(jobs) == 1, jobs
    assert opened == []
    # the recorder sees a driver-side read of the same check
    maintenance._check_data_file(min(data))
    assert opened == [min(data)]


def test_validate_table_reference_financials_duplicate_pairs(
    spark, reference_data
):
    """The reference's own financials table ships duplicate
    (key, event_time) pairs: a warning, never an error."""
    report = validate_table(Lakehouse(spark, reference_data), "financials")
    assert report.errors == []
    assert any("duplicate (key, event_time) pairs" in w for w in report.warnings)
