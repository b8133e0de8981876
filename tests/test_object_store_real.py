"""REAL S3-protocol object-store run — no ``BAZOF_FS_EMULATE``, no
local mirror anywhere: pyarrow's S3FileSystem (the AWS C++ SDK) speaks
genuine HTTP S3 REST (multipart uploads, ranged GETs, ListObjectsV2,
CopyObject, batch deletes) against the bundled stdlib server
(``bazof_spark.s3server``), routed through ``$BAZOF_S3_ENDPOINT`` in
``iofs._split`` — the same wiring that points at MinIO or a real
region endpoint in production. The reference runs on any
``object_store`` backend (/root/reference/README.md:47,
crates/azof/src/lakehouse.rs:19-27); this closes the round-7 residue
("still absent: a run against a real S3 client").

Coverage: author → upsert → delete → multi-clause merge → evolve →
restore → vacuum on an ``s3://`` root, data-byte parity via a ranged
parquet read back THROUGH the s3 client, and the two-writer race with
the out-of-process TCP lock server registered as the scheme's commit
guard (network CAS over a network object store — zero local-path
fallbacks in the commit path).

Spark-side scans of ``s3://`` need Hadoop S3A jars the sandbox JVM
does not ship; scan/SQL parity for object-store bytes stays covered by
the emulation suite (same bytes through the local mirror). Everything
driver-side — metadata IO, parquet data writes/reads, commit CAS —
runs over the real protocol here.
"""

import datetime as dt
import os
import subprocess
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark import iofs  # noqa: E402
from bazof_spark.commitguard import register_commit_guard  # noqa: E402
from bazof_spark.errors import BazofError  # noqa: E402
from bazof_spark.lakehouse import Lakehouse  # noqa: E402
from bazof_spark.maintenance import (  # noqa: E402
    evolve_table_schema,
    restore_table,
    vacuum_table,
    validate_table,
)
from bazof_spark.s3server import S3Server  # noqa: E402
from bazof_spark.schema import ColumnDef, ColumnType, TableSchema  # noqa: E402
from bazof_spark.writer import (  # noqa: E402
    TableWriter,
    append_delta,
    delete_keys,
    merge_apply,
    upsert_with_retry,
)

UTC = dt.timezone.utc


@pytest.fixture(scope="module")
def s3_endpoint():
    """A live in-process S3 server + env wiring; guarantees emulation
    is OFF so every byte goes over HTTP."""
    saved = {
        k: os.environ.pop(k, None)
        for k in ("BAZOF_FS_EMULATE", "BAZOF_FS_EMULATE_ROOT")
    }
    with S3Server() as srv:
        os.environ["BAZOF_S3_ENDPOINT"] = srv.endpoint
        try:
            yield srv
        finally:
            os.environ.pop("BAZOF_S3_ENDPOINT", None)
            for k, v in saved.items():
                if v is not None:
                    os.environ[k] = v


def _schema():
    return TableSchema(
        (ColumnDef("value", ColumnType.STRING, nullable=False),)
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, _schema().to_struct_type())


def _read_current_keys(table_uri: str) -> dict[str, str]:
    """Data-byte parity WITHOUT Spark: resolve the current snapshot's
    file list through the table metadata (all over HTTP) and read the
    parquet bytes back through the SAME s3 client, reducing to the
    latest row per key with the format's precedence (files are ranked;
    earlier file wins per key, rows within a file are event_time DESC)."""
    import pyarrow.parquet as pq

    from bazof_spark.table import Table

    t = Table(path=table_uri, name="t")
    snap = t.get_current_snapshot()
    tombstones = snap.tombstone_files()
    out: dict[str, str] = {}
    hidden: set[str] = set()
    # files in precedence order (lower rank wins; rows within a file
    # are event_time DESC, earlier row wins) — latest_wins_ordering
    for fname, _rank in snap.ranked_data_files():
        filesystem, rel = iofs.split(t.data_file_path(fname))
        tbl = pq.read_table(rel, filesystem=filesystem)
        is_tomb = fname in tombstones
        for row in tbl.to_pylist():
            k = row["key"]
            if k in out or k in hidden:
                continue
            if is_tomb:
                hidden.add(k)
            else:
                out[k] = row["value"]
    return out


def test_author_upsert_delete_merge_over_real_s3(spark, s3_endpoint):
    """The full write-path loop on an s3:// root with zero emulation:
    every metadata PUT/GET, every parquet byte, and the version chain
    go over HTTP S3 REST."""
    uri = "s3://bazof-real/lake"
    table_uri = iofs.join(uri, "t")
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)

    w = TableWriter(spark, table_uri, _schema())
    w.add_segment(
        "s1", start=t0,
        base_df=_batch(spark, [("a", t0, "a1"), ("b", t0, "b1")]),
    )
    w.commit("1")
    assert iofs.read_text(iofs.join(table_uri, "version.txt")) == "1"

    t1 = dt.datetime(2024, 2, 1, tzinfo=UTC)
    append_delta(
        spark, table_uri, _batch(spark, [("a", t1, "a2"), ("c", t1, "c1")])
    )
    assert iofs.read_text(iofs.join(table_uri, "version.txt")) == "2"
    assert _read_current_keys(table_uri) == {
        "a": "a2", "b": "b1", "c": "c1",
    }

    # tombstone DELETE over the wire
    delete_keys(spark, table_uri, ["b"])
    assert _read_current_keys(table_uri) == {"a": "a2", "c": "c1"}

    # multi-clause merge outcome: upsert + tombstone in ONE HTTP-
    # published snapshot
    t2 = dt.datetime(2024, 3, 1, tzinfo=UTC)
    v_before = Lakehouse(spark, uri).table("t").current_version()
    merge_apply(
        spark,
        table_uri,
        upsert_df=_batch(spark, [("d", t2, "d1")]),
        delete_keys_df=spark.createDataFrame([("c",)], "key string"),
        expected_version=v_before,
    )
    lh = Lakehouse(spark, uri)
    assert int(lh.table("t").current_version()) == int(v_before) + 1
    assert _read_current_keys(table_uri) == {"a": "a2", "d": "d1"}

    # metadata validation directly on the s3 root: every referenced
    # file must exist over the real protocol
    report = validate_table(lh, "t", data_checks=False)
    assert not [e for e in report.errors if "missing" in e], report.errors

    # CLI stats: a pure-metadata walk over HTTP (no Spark session)
    out = subprocess.run(
        [sys.executable, "-m", "bazof_spark.cli", "stats",
         "--path", uri, "--table", "t"],
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ},
    )
    assert out.returncode == 0, out.stderr
    assert "version" in out.stdout


def test_evolve_restore_vacuum_over_real_s3(spark, s3_endpoint):
    """Metadata-only maintenance — schema evolution (add/rename/drop),
    RESTORE, VACUUM retention — all over the real protocol."""
    uri = "s3://bazof-real/maint"
    table_uri = iofs.join(uri, "t")
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    w = TableWriter(spark, table_uri, _schema())
    w.add_segment(
        "s1", start=t0, base_df=_batch(spark, [("a", t0, "a1")])
    )
    w.commit("1")
    lh = Lakehouse(spark, uri)

    evolve_table_schema(
        lh, "t", add=[ColumnDef("score", ColumnType.INT, nullable=True)]
    )
    evolve_table_schema(lh, "t", rename={"score": "points"})
    snap = lh.table("t").get_current_snapshot()
    assert [c.name for c in snap.schema.columns] == ["value", "points"]
    assert snap.schema.columns[1].formers == ("score",)
    evolve_table_schema(lh, "t", drop=["points"])

    # duplicate-name guard holds over the wire too (ADVICE r8)
    with pytest.raises(BazofError, match="collides"):
        evolve_table_schema(
            lh, "t",
            add=[ColumnDef("x", ColumnType.INT, nullable=True)],
            rename={"value": "x"},
        )

    v = int(lh.table("t").current_version())
    restore_table(lh, "t", version="1")
    assert int(lh.table("t").current_version()) == v + 1
    assert [
        c.name
        for c in lh.table("t").get_current_snapshot().schema.columns
    ] == ["value"]

    # a stage prefix has no mtime on S3: its age is unknown, so the
    # default retention keeps it (it may be an in-flight write's)
    stage = iofs.join(table_uri, "_ds_stage_0123456789ab")
    iofs.write_text(iofs.join(stage, "part.parquet"), "staged")
    kept = vacuum_table(lh, "t", keep_versions=1, dry_run=True)
    assert kept["removed_dirs"] == []

    # vacuum with zero retention sweeps unreferenced snapshots' debris;
    # the restored current version must keep every referenced file
    swept = vacuum_table(lh, "t", keep_versions=1, min_age_s=0)
    assert swept["removed_dirs"] == ["_ds_stage_0123456789ab"]
    assert not iofs.exists(stage)
    report = validate_table(lh, "t", data_checks=False)
    assert not [e for e in report.errors if "missing" in e], report.errors
    assert _read_current_keys(table_uri) == {"a": "a1"}


def test_concurrent_writers_real_s3_with_lockserver(spark, s3_endpoint):
    """The commit CAS over a REAL object store: the out-of-process TCP
    lock server is the scheme's commit guard (the production shape —
    S3 has no compare-and-swap, so the guard supplies it), two racing
    writers retry through CommitConflictError, and no committed upsert
    is lost. Network CAS + network object store, no local paths."""
    from bazof_spark.lockserver import register_lockserver_guard

    proc = subprocess.Popen(
        [sys.executable, "-m", "bazof_spark.lockserver", "--port", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    try:
        line = proc.stdout.readline().strip()
        assert line.startswith("PORT "), line
        port = int(line.split()[1])
        register_lockserver_guard("s3", "127.0.0.1", port)

        uri = "s3://bazof-real/race"
        table_uri = iofs.join(uri, "t")
        t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
        w = TableWriter(spark, table_uri, _schema())
        w.add_segment(
            "s1", start=t0, base_df=_batch(spark, [("seed", t0, "s")])
        )
        w.commit("1")

        n_each, n_threads, errors = 3, 3, []

        def worker(wid: int):
            try:
                for i in range(n_each):
                    ts = dt.datetime(2024, 2, 1 + i, tzinfo=UTC)
                    upsert_with_retry(
                        spark, table_uri,
                        _batch(spark, [(f"w{wid}k{i}", ts, f"v{wid}.{i}")]),
                        retries=60,
                    )
            except Exception as exc:  # surface to pytest
                errors.append(exc)

        threads = [
            threading.Thread(target=worker, args=(wid,))
            for wid in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors

        got = _read_current_keys(table_uri)
        for wid in range(n_threads):
            for i in range(n_each):
                assert got.get(f"w{wid}k{i}") == f"v{wid}.{i}", (wid, i, got)
        # the version chain advanced once per committed upsert
        lh = Lakehouse(spark, uri)
        assert int(lh.table("t").current_version()) == 1 + n_each * n_threads
        report = validate_table(lh, "t", data_checks=False)
        assert not [e for e in report.errors if "missing" in e], report.errors
    finally:
        register_commit_guard("s3", None)
        proc.terminate()
        proc.wait(timeout=10)


def test_validate_full_data_checks_over_real_s3(spark, s3_endpoint):
    """validate_table with FULL data checks on an s3:// root: the
    executor-side per-file check reads every byte over the real
    protocol (the JVM has no S3A and needs none). A delta overwritten
    over HTTP with one duplicate (key, event_time) pair is reported."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    uri = "s3://bazof-real/fullcheck"
    table_uri = iofs.join(uri, "t")
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    w = TableWriter(spark, table_uri, _schema())
    w.add_segment(
        "s1", start=t0,
        base_df=_batch(spark, [("a", t0, "a1"), ("b", t0, "b1")]),
    )
    w.commit("1")
    t1 = dt.datetime(2024, 2, 1, tzinfo=UTC)
    append_delta(spark, table_uri, _batch(spark, [("a", t1, "a2")]))
    lh = Lakehouse(spark, uri)
    report = validate_table(lh, "t")
    assert report.errors == [] and report.warnings == []

    table = lh.table("t")
    (delta,) = [
        d.file
        for s in table.get_current_snapshot().segments
        for d in s.delta
    ]
    filesystem, rel = iofs.split(table.data_file_path(delta))
    pq.write_table(
        pa.table(
            {
                "key": ["a", "a"],
                "event_time": pa.array([t1, t1], pa.timestamp("us", tz="UTC")),
                "value": ["a2", "a3"],
            }
        ),
        rel,
        filesystem=filesystem,
    )
    report = validate_table(lh, "t")
    assert report.errors == []
    assert report.warnings == [
        "1 duplicate (key, event_time) pairs within a data file; ties "
        "resolve to the first physical row (reference semantics)"
    ]


def test_http_responses_single_content_length(s3_endpoint):
    """ADVICE r9: _respond used to append its own Content-Length after
    the caller's, so HEAD carried two conflicting values ('11' then
    '0') — an RFC 9110 violation stricter clients reject. Every
    response must frame exactly one Content-Length, and HEAD's must be
    the OBJECT length (what a subsequent GET returns), not 0."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", s3_endpoint.port)
    try:
        conn.request("PUT", "/clbkt")
        conn.getresponse().read()
        conn.request("PUT", "/clbkt/k", body=b"hello world")
        conn.getresponse().read()
        for method, want in (("HEAD", "11"), ("GET", "11")):
            conn.request(method, "/clbkt/k")
            r = conn.getresponse()
            r.read()
            assert r.headers.get_all("Content-Length") == [want], method
        # ranged GET: one Content-Length matching the PART length
        conn.request("GET", "/clbkt/k", headers={"Range": "bytes=0-4"})
        r = conn.getresponse()
        body = r.read()
        assert r.status == 206 and body == b"hello"
        assert r.headers.get_all("Content-Length") == ["5"]
        # error + list responses framed once too
        conn.request("GET", "/clbkt/missing")
        r = conn.getresponse()
        r.read()
        assert r.status == 404
        assert len(r.headers.get_all("Content-Length")) == 1
    finally:
        conn.close()


def test_distributed_multifile_delta_over_real_s3(spark, s3_endpoint):
    """Round-9: the distributed multi-file writer on an OBJECT-STORE
    root — executor-side pyarrow staging under the table URI (the Data
    Source writer's seam), driver finalize via iofs moves. Same
    precedence/invariant contract as the local path
    (tests/test_writer.py::test_distributed_delta_write): keys are
    hash-disjoint across files, files are event_time DESC inside, a
    later delta still wins per key, and no stage debris survives."""
    import pyarrow.parquet as pq

    uri = "s3://bazof-real/dist/t"
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    t9 = dt.datetime(2024, 2, 1, tzinfo=UTC)

    w = TableWriter(spark, uri, _schema())
    seg = w.add_segment("s1", start=t0)
    big = _batch(
        spark,
        [
            (str(i), t0 + dt.timedelta(hours=i % 7), f"v{i}")
            for i in range(200)
        ],
    )
    seg.add_delta_distributed(big, start=t0, end=t9, num_files=4)
    snap = w.commit("1")
    files = snap.get_data_files()
    assert len(files) == 4 and all("_p000" in f for f in files)

    # file invariants over the wire: disjoint keys across files,
    # event_time DESC within each file
    seen: set[str] = set()
    for fname in files:
        filesystem, rel = iofs.split(iofs.join(uri, fname))
        tbl = pq.read_table(rel, filesystem=filesystem)
        keys = tbl.column("key").to_pylist()
        assert not (set(keys) & seen)
        seen.update(keys)
        ts_us = tbl.column("event_time").cast("int64").to_pylist()
        assert ts_us == sorted(ts_us, reverse=True)
    assert seen == {str(i) for i in range(200)}

    # a later distributed delta through append_delta(distributed=True)
    # updates one key — precedence beats timestamp across the siblings
    upd = _batch(
        spark, [("7", dt.datetime(2024, 1, 10, tzinfo=UTC), "updated")]
    )
    append_delta(spark, uri, upd, distributed=True, num_files=2)
    got = _read_current_keys(uri)
    assert len(got) == 200 and got["7"] == "updated" and got["13"] == "v13"

    # no staging debris left under the table prefix
    leftovers = [
        n for n in iofs.listdir(uri)
        if "_stage" in n or n.endswith("_job")
    ]
    assert leftovers == []


def test_scan_and_sql_over_real_s3(spark, s3_endpoint):
    """Round-9: ``Lakehouse.scan``/``sql`` on an s3:// root with NO JVM
    connector — scan_snapshot auto-routes through the Python Data
    Source (executor-side pyarrow reads per ranked file over HTTP S3
    REST), closing the round-8 residue where only format('bazof') was
    distributed over object stores. As-of, version travel, projection
    and key pruning all flow through; the raw source schedules one
    task per surviving file."""
    uri = "s3://bazof-real/scanlake"
    table_uri = iofs.join(uri, "t")
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    t1 = dt.datetime(2024, 2, 1, tzinfo=UTC)

    w = TableWriter(spark, table_uri, _schema())
    w.add_segment(
        "s1", start=t0,
        base_df=_batch(spark, [("a", t0, "a1"), ("b", t0, "b1")]),
    )
    w.commit("1")
    append_delta(
        spark, table_uri, _batch(spark, [("a", t1, "a2"), ("c", t1, "c1")])
    )

    lh = Lakehouse(spark, uri)
    cur = {r["key"]: r["value"] for r in lh.scan("t").collect()}
    assert cur == {"a": "a2", "b": "b1", "c": "c1"}
    early = {
        r["key"]: r["value"]
        for r in lh.scan("t", as_of=dt.datetime(2024, 1, 15, tzinfo=UTC)
                         ).collect()
    }
    assert early == {"a": "a1", "b": "b1"}
    # version travel pins snapshot 1 (pre-delta)
    v1 = {r["key"]: r["value"] for r in lh.scan("t", version=1).collect()}
    assert v1 == {"a": "a1", "b": "b1"}
    # projection narrows to the requested columns
    proj = lh.scan("t", columns=["value"])
    assert proj.columns == ["key", "event_time", "value"] or set(
        proj.columns
    ) <= {"key", "event_time", "value"}
    # key point-lookup
    assert {
        r["key"] for r in lh.scan("t", keys=["a"]).collect()
    } == {"a"}

    # SQL time travel straight over the s3 root
    got = lh.sql(
        "SELECT key, value FROM t AT ('2024-01-15T00:00:00.000Z') "
        "ORDER BY key"
    ).collect()
    assert [(r["key"], r["value"]) for r in got] == [("a", "a1"), ("b", "b1")]

    # one task per ranked file in the raw source read (2 files: base +
    # delta)
    import json as _json

    raw = (
        spark.read.format("bazof")
        .option("path", uri)
        .option("table", "t")
        .option("bazofEnv", _json.dumps(iofs.env_snapshot()))
        .load()
    )
    assert raw.rdd.getNumPartitions() == 2


def test_checkpoint_and_optimize_over_real_s3(spark, s3_endpoint):
    """Round-9 follow-through on the scan routing: compaction now runs
    on object-store roots — the merged-state scan goes through the
    Python Data Source (executor-side pyarrow over HTTP), the base file
    and the snapshot publish through iofs. Reads must stay
    bit-identical at every as-of across checkpoint and Z-order
    optimize, and validation must stay clean over the wire."""
    from bazof_spark.maintenance import checkpoint_table, optimize_table

    uri = "s3://bazof-real/maint"
    table_uri = iofs.join(uri, "t")
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    t1 = dt.datetime(2024, 2, 1, tzinfo=UTC)

    w = TableWriter(spark, table_uri, _schema())
    w.add_segment(
        "s1", start=t0,
        base_df=_batch(
            spark, [(str(i), t0, f"v{i}") for i in range(20)]
        ),
    )
    w.commit("1")
    append_delta(
        spark, table_uri,
        _batch(spark, [("3", t1, "v3b"), ("21", t1, "v21")]),
    )
    lh = Lakehouse(spark, uri)
    before_cur = {r["key"]: r["value"] for r in lh.scan("t").collect()}
    before_old = {
        r["key"]: r["value"]
        for r in lh.scan(
            "t", as_of=dt.datetime(2024, 1, 15, tzinfo=UTC)
        ).collect()
    }

    checkpoint_table(
        lh, "t", at=dt.datetime(2024, 3, 1, tzinfo=UTC)
    )
    assert {
        r["key"]: r["value"] for r in lh.scan("t").collect()
    } == before_cur
    assert {
        r["key"]: r["value"]
        for r in lh.scan(
            "t", as_of=dt.datetime(2024, 1, 15, tzinfo=UTC)
        ).collect()
    } == before_old
    # the checkpoint base exists on the store and Current is 1 file
    snap = lh.table("t").get_current_snapshot()
    from bazof_spark.asof import Current

    assert len(snap.ranked_data_files(Current)) == 1

    optimize_table(
        lh, "t", at=dt.datetime(2024, 4, 1, tzinfo=UTC),
        cluster_by=["event_time"],
    )
    assert {
        r["key"]: r["value"] for r in lh.scan("t").collect()
    } == before_cur
    report = validate_table(lh, "t")
    assert not report.errors, report.errors


def test_streaming_roundtrip_over_real_s3(spark, s3_endpoint, tmp_path):
    """Round-10: the streaming story over the REAL protocol server —
    ``writeStream.format('bazof')`` onto an ``s3://`` root (each
    micro-batch commits a snapshot version through the staged CAS
    publish, every byte over HTTP), ``readStream.format('bazof')``
    tails the committed versions back over the same wire, and a
    checkpoint_table + restore cycle keeps every as-of byte-identical
    afterwards. Spark's own STREAM checkpoint stays on local disk (the
    sandbox JVM ships no S3A connector); the table root is pure s3://,
    like a production job checkpointing to fast local/HDFS storage
    while the lake lives in object storage."""
    import json

    from bazof_spark.asof import Current
    from bazof_spark.datasource import BazofDataSource
    from bazof_spark.maintenance import checkpoint_table, restore_table
    from bazof_spark.table import Table

    spark.dataSource.register(BazofDataSource)
    root = "s3://bazof-real-stream/lake"
    table_uri = iofs.join(root, "st")

    src = tmp_path / "src"
    src.mkdir()
    src2 = tmp_path / "src2"
    src2.mkdir()
    (src / "a.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"key": "a", "event_time": "2024-01-01T00:00:00Z",
                 "value": "a1"},
                {"key": "b", "event_time": "2024-01-02T00:00:00Z",
                 "value": "b1"},
            ]
        )
    )
    schema = "key string, event_time timestamp, value string"

    def run_sink(checkpoint, from_dir):
        stream = (
            spark.readStream.schema(schema)
            .json(str(from_dir))
            .repartition("key")
        )
        q = (
            stream.writeStream.format("bazof")
            .option("path", root)
            .option("table", "st")
            .option("bazofEnv", json.dumps(iofs.env_snapshot()))
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_sink("cp1", src)
    lh = Lakehouse(spark, root)
    assert {
        r["key"]: r["value"] for r in lh.scan("st").collect()
    } == {"a": "a1", "b": "b1"}
    v1 = int(Table(path=table_uri, name="st").current_version())

    # re-running on the SAME checkpoint replays nothing (batch-id skip)
    run_sink("cp1", src)
    assert int(Table(path=table_uri, name="st").current_version()) == v1

    # new data from a second source dir, fresh checkpoint -> one more
    # version containing ONLY the new rows, upsert semantics
    (src2 / "b.json").write_text(
        json.dumps(
            {"key": "a", "event_time": "2024-03-01T00:00:00Z",
             "value": "a2"}
        )
    )
    run_sink("cp2", src2)
    v2 = int(Table(path=table_uri, name="st").current_version())
    assert v2 > v1
    assert {
        r["key"]: r["value"] for r in lh.scan("st").collect()
    } == {"a": "a2", "b": "b1"}
    old = {
        r["key"]: r["value"]
        for r in lh.scan(
            "st", as_of=dt.datetime(2024, 2, 1, tzinfo=UTC)
        ).collect()
    }
    assert old == {"a": "a1", "b": "b1"}

    # native stream READ back over the wire: offsets = versions
    q = (
        spark.readStream.format("bazof")
        .option("path", root)
        .option("table", "st")
        .option("bazofEnv", json.dumps(iofs.env_snapshot()))
        .option("startingVersion", "0")
        .load()
        .writeStream.format("memory")
        .queryName("s3_stream_rt")
        .option("checkpointLocation", str(tmp_path / "cp_read"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    tailed = {
        (r["key"], r["_rank"]): r["value"]
        for r in spark.sql("SELECT * FROM s3_stream_rt").collect()
    }
    assert tailed == {("a", v1): "a1", ("b", v1): "b1", ("a", v2): "a2"}

    # checkpoint + restore cycle on the streamed table, all over HTTP
    before_cur = {r["key"]: r["value"] for r in lh.scan("st").collect()}
    checkpoint_table(lh, "st", at=dt.datetime(2024, 4, 1, tzinfo=UTC))
    assert {
        r["key"]: r["value"] for r in lh.scan("st").collect()
    } == before_cur
    snap = lh.table("st").get_current_snapshot()
    assert len(snap.ranked_data_files(Current)) == 1
    restore_table(lh, "st", v1)
    assert {
        r["key"]: r["value"] for r in lh.scan("st").collect()
    } == {"a": "a1", "b": "b1"}


def test_row_group_split_over_real_s3(spark, s3_endpoint, monkeypatch):
    """Round-10 byte-range splitting on the REAL protocol path: sizing
    happens as one batched HEAD per filesystem at planning, a
    multi-row-group object-store file plans >1 partition, and the
    merged read stays bit-identical to the unsplit read."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bazof_spark.asof import Current
    from bazof_spark.datasource import BazofDataSource, BazofReader

    uri = "s3://bazof-real/rgsplit/t"
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    w = TableWriter(spark, uri, _schema())
    w.add_segment(
        "s1", start=t0,
        base_df=_batch(
            spark,
            [(f"k{i:04d}", t0, "v" * 50) for i in range(400)],
        ),
    )
    snap = w.commit("1")
    # rewrite the data file with tiny row groups THROUGH the s3 client
    # (bit-identical rows, so snapshot stats stay valid)
    (fname,) = snap.get_data_files()
    filesystem, rel = iofs.split(iofs.join(uri, fname))
    tbl = pq.read_table(rel, filesystem=filesystem)
    buf = pa.BufferOutputStream()
    pq.write_table(tbl, buf, row_group_size=32)
    with filesystem.open_output_stream(rel) as out:
        out.write(buf.getvalue().to_pybytes())
    assert pq.ParquetFile(
        filesystem.open_input_file(rel)
    ).metadata.num_row_groups > 1

    from bazof_spark.lakehouse import Lakehouse as LH
    from bazof_spark.table import Table

    table = Table(path=uri, name="t")
    reader = BazofReader(
        {"maxpartitionbytes": "2k",
         "bazofEnv": json.dumps(iofs.env_snapshot())},
        table.get_current_snapshot().schema.to_struct_type(),
        resolved=(table, table.get_current_snapshot(), Current),
    )
    parts = reader.partitions()
    assert len(parts) > 1 and len({p.path for p in parts}) == 1

    # the lakehouse route forwards the SESSION conf, not the env var
    spark.dataSource.register(BazofDataSource)
    lh = LH(spark, "s3://bazof-real/rgsplit")
    saved = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        split_rows = {r["key"]: r["value"] for r in lh.scan("t").collect()}
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 30))
        whole_rows = {r["key"]: r["value"] for r in lh.scan("t").collect()}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
    assert split_rows == whole_rows
    assert len(split_rows) == 400


def test_binary_column_over_real_s3(spark, s3_endpoint):
    """The round-11 Binary column on an object-store root: blob
    payloads author, upsert, time-travel and Data-Source-read over
    genuine HTTP S3 — byte-identical at every instant."""
    uri = "s3://bazof-real/binlake"
    table_uri = iofs.join(uri, "m")
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    t1 = dt.datetime(2024, 2, 1, tzinfo=UTC)
    schema = TableSchema(
        (ColumnDef("blob", ColumnType.BINARY, nullable=False),)
    )
    rows0 = [(str(i), t0, bytes([0, i, 255 - i])) for i in range(12)]
    rows1 = [(str(i), t1, bytes([1, i, i])) for i in range(0, 12, 3)]
    w = TableWriter(spark, table_uri, schema)
    w.add_segment(
        "s1", start=t0,
        base_df=spark.createDataFrame(rows0, schema.to_struct_type()),
    )
    w.commit("1")
    append_delta(
        spark, table_uri,
        spark.createDataFrame(rows1, schema.to_struct_type()),
    )

    from bazof_spark.lakehouse import Lakehouse

    lh = Lakehouse(spark, uri)
    at0 = {
        r["key"]: bytes(r["blob"])
        for r in lh.scan("m", as_of="2024-01-15T00:00:00.000Z").collect()
    }
    cur = {r["key"]: bytes(r["blob"]) for r in lh.scan("m").collect()}
    assert at0 == {str(i): bytes([0, i, 255 - i]) for i in range(12)}
    expect = {
        str(i): bytes([1, i, i]) if i % 3 == 0 else bytes([0, i, 255 - i])
        for i in range(12)
    }
    assert cur == expect
    # the scan on an object-store root routes through the Python Data
    # Source — so this already IS the Data Source read; pin the schema
    assert dict(lh.scan("m").dtypes)["blob"] == "binary"


def test_cdc_mirror_over_real_s3(spark, s3_endpoint, tmp_path):
    """The generic CDC apply (operators/cdc.apply_changes) maintains a
    mirror ON AN OBJECT STORE from an object-store source: source
    history authored over HTTP, feed windows applied over HTTP (one
    atomic bump each, incl. tombstones), mirror equals the source at
    every probed instant."""
    from datetime import datetime, timezone

    from bazof_spark import Lakehouse
    from bazof_spark.operators.cdc import apply_changes
    from bazof_spark.writer import TableWriter, delete_keys

    bucket = f"s3://cdcmirror{os.getpid()}/{tmp_path.name}"
    src_uri = f"{bucket}/src"
    t1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    t2 = datetime(2024, 2, 1, tzinfo=timezone.utc)
    t3 = datetime(2024, 3, 1, tzinfo=timezone.utc)
    w = TableWriter(spark, src_uri, _schema())
    seg = w.add_segment("s1", t1)
    seg.add_delta(
        _batch(spark, [(str(i), t1, f"v1_{i}") for i in range(12)]), t1, t1
    )
    w.commit()
    from bazof_spark.writer import append_delta

    append_delta(
        spark,
        src_uri,
        _batch(spark, [(str(i), t2, f"v2_{i}") for i in range(0, 12, 3)]),
    )
    delete_keys(spark, src_uri, ["1", "7"], at=t3)

    lh = Lakehouse(spark, bucket)
    mirror_uri = f"{bucket}/mirror"
    apply_changes(spark, lh, "src", mirror_uri, since=t1, until=t2)
    apply_changes(spark, lh, "src", mirror_uri, since=t2, until=t3)
    # empty tail window: a version no-op, not an error
    apply_changes(spark, lh, "src", mirror_uri, since=t3, until=None)

    def state(table, as_of=None):
        return {
            r["key"]: r["value"]
            for r in lh.scan(table, as_of=as_of).collect()
        }

    for as_of in (t1, t2, t3, None):
        a, b = state("src", as_of), state("mirror", as_of)
        assert a and a == b, f"s3 mirror diverged at {as_of}"


def test_remote_reads_coalesce_ranged_gets(s3_endpoint):
    """Opt round 2 (guide §6): on object-store filesystems the batch
    reader pre-buffers — the selected column chunks' byte ranges are
    coalesced into few ranged GETs instead of one read per page run.
    Census over the live S3 server: pre-buffer must read the same rows
    with strictly fewer GETs than the streaming default."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bazof_spark.datasource import _file_batches

    fs, _ = iofs.split("s3://prebuf/x")
    try:
        fs.create_dir("prebuf")
    except Exception:
        pass
    n = 40_000
    t = pa.table(
        {
            "key": pa.array([f"k{i:06d}" for i in range(n)]),
            "event_time": pa.array(
                np.arange(n, dtype="int64"), type=pa.timestamp("us")
            ),
            "value": pa.array([f"v{i}" for i in range(n)]),
            "extra": pa.array(np.arange(n, dtype="float64")),
        }
    )
    fs2, rel = iofs.split("s3://prebuf/t.parquet")
    pq.write_table(
        t, rel, filesystem=fs2, row_group_size=5_000, write_page_index=True
    )
    schema = pa.schema(
        [
            pa.field("key", pa.string()),
            pa.field("event_time", pa.timestamp("us")),
            pa.field("value", pa.string()),
            pa.field("_rank", pa.int64()),
            pa.field("_row_idx", pa.int64()),
        ]
    )
    order = ["key", "event_time", "value", "_rank", "_row_idx"]

    def read_all():
        s3_endpoint.store.get_log.clear()
        rows = 0
        for batch in _file_batches(
            "s3://prebuf/t.parquet", 0, ["key", "event_time", "value"],
            order, schema,
        ):
            rows += batch.num_rows
        gets = [g for g in s3_endpoint.store.get_log if "t.parquet" in g[0]]
        return rows, len(gets)

    import os as _os

    _os.environ["BAZOF_PARQUET_PRE_BUFFER"] = "0"
    try:
        rows_off, gets_off = read_all()
    finally:
        _os.environ.pop("BAZOF_PARQUET_PRE_BUFFER", None)
    rows_auto, gets_auto = read_all()  # auto = ON for remote filesystems
    assert rows_off == rows_auto == n
    assert gets_auto < gets_off, (gets_auto, gets_off)


def test_page_prune_plan_is_one_tail_get(s3_endpoint):
    """The page-index prune plan of a file whose footer and page
    indexes sit in its last 64 KiB costs ONE ranged GET — trailer,
    footer and index region all come from that read — and still
    prunes the pages a key equality cannot match."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bazof_spark.datasource import _page_prune_spans

    fs, rel = iofs.split("s3://prebuf/prune.parquet")
    try:
        fs.create_dir("prebuf")
    except Exception:
        pass
    n = 20_000
    pq.write_table(
        pa.table({
            "key": [f"k{i:06d}" for i in range(n)],
            "value": [f"v{i}" for i in range(n)],
        }),
        rel, filesystem=fs, row_group_size=5_000, write_page_index=True,
        data_page_size=4096,
    )
    assert fs.get_file_info(rel).size > 64 << 10  # tail < whole file
    log = s3_endpoint.store.get_log
    mark = len(log)
    stats: dict = {}
    spans = _page_prune_spans(
        fs, rel, [("equal", "key", "k012345")], {"key": "key"}, None, stats
    )
    gets = [p for p, _ in log[mark:] if p.endswith("prune.parquet")]
    assert len(gets) == 1, gets
    assert sum(len(s) for s in spans.values()) == 1, spans
    assert stats["pages_pruned"] > 0


def _two_version_table(spark, uri: str) -> Lakehouse:
    """Base of keys a, b at 2024-01-01 plus a delta upserting a."""
    table_uri = iofs.join(uri, "t")
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    w = TableWriter(spark, table_uri, _schema())
    w.add_segment(
        "s1", start=t0,
        base_df=_batch(spark, [("a", t0, "a1"), ("b", t0, "b1")]),
    )
    w.commit("1")
    append_delta(
        spark, table_uri,
        _batch(spark, [("a", dt.datetime(2024, 2, 1, tzinfo=UTC), "a2")]),
    )
    return Lakehouse(spark, uri)


def test_keyed_scan_metadata_gets_over_real_s3(spark, s3_endpoint):
    """A keyed lookup over s3:// resolves its snapshot once, on the
    driver (version.txt + s{N}.json): the driver plans the byte-range
    tasks from that snapshot, the executors read only data files, and
    the broadcast-size decision reuses the same resolved snapshot. GET
    census from the live server's log."""
    lh = _two_version_table(spark, "s3://bazof-real/metagets")
    log = s3_endpoint.store.get_log
    mark = len(log)
    got = {r["key"]: r["value"] for r in lh.scan("t", keys=["a"]).collect()}
    assert got == {"a": "a2"}
    meta = sorted(
        p.rsplit("/", 1)[1]
        for p, _ in log[mark:]
        if p.startswith("bazof-real/metagets/")
        and (p.endswith(".json") or p.endswith("version.txt"))
    )
    assert meta == ["s2.json", "version.txt"], meta


@pytest.mark.usefixtures("executor_lookups")
def test_object_store_scan_is_driver_planned(spark, s3_endpoint):
    """Lakehouse.scan on an s3:// root reads the driver-planned byte
    ranges with mapInArrow (one task per range, no Python Data Source
    scan) and merges them in the usual single shuffle."""
    from bazof_spark.plans import formatted_plan, shuffle_count

    lh = _two_version_table(spark, "s3://bazof-real/driverplan")
    df = lh.scan("t", keys=["a", "b"])
    plan = formatted_plan(df)
    assert "MapInArrow" in plan, plan
    assert "BatchScan" not in plan, plan
    assert shuffle_count(df) == 1, plan
    assert sorted((r["key"], r["value"]) for r in df.collect()) == [
        ("a", "a2"), ("b", "b1"),
    ]


def test_object_store_keyed_lookup_reads_on_the_driver(
    spark, s3_endpoint, driver_reads, spark_jobs
):
    """Driver-route twin: under the default broadcast threshold the
    same lookup reads both files over s3:// on the driver and hands
    Spark a local relation — no MapInArrow, no scan, no Spark job."""
    from bazof_spark.plans import formatted_plan, shuffle_count

    lh = _two_version_table(spark, "s3://bazof-real/driverread")
    df = lh.scan("t", keys=["a", "b"])
    assert len(set(driver_reads)) == 2
    assert all(p.startswith("s3://bazof-real/driverread/") for p in driver_reads)
    plan = formatted_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "MapInArrow" not in plan and "BatchScan" not in plan, plan
    assert shuffle_count(df) == 0, plan
    with spark_jobs() as jobs:
        rows = df.collect()
    assert jobs == []
    assert sorted((r["key"], r["value"]) for r in rows) == [
        ("a", "a2"), ("b", "b1"),
    ]


def test_object_store_scan_before_first_segment(spark, s3_endpoint):
    """An as-of instant before the table's first segment ranks no
    files: the scan is empty with the declared columns, whole-table
    and keyed alike, instead of planning zero read tasks."""
    lh = _two_version_table(spark, "s3://bazof-real/prehistory")
    before = "2023-06-01T00:00:00.000Z"
    for df in (
        lh.scan("t", as_of=before),
        lh.scan("t", as_of=before, keys=["a"]),
    ):
        assert df.columns == ["key", "event_time", "value"]
        assert df.collect() == []
