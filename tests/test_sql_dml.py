"""SQL DML on the Lakehouse surface: CREATE TABLE AS SELECT and
INSERT INTO ... SELECT, committing through the Data Source writer with
full time-travel semantics on both the source and the result."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark import Lakehouse  # noqa: E402
from bazof_spark.errors import BazofError  # noqa: E402
from bazof_spark.sql import parse_dml  # noqa: E402


def test_parse_dml_detection():
    d = parse_dml("CREATE TABLE t AS SELECT 1")
    assert d.kind == "ctas" and d.table == "t" and not d.replace
    d = parse_dml("  -- note\n create or replace table x.y AS SELECT 2;")
    assert d.kind == "ctas" and d.table == "x.y" and d.replace
    d = parse_dml("INSERT INTO t SELECT * FROM s")
    assert d.kind == "insert" and d.table == "t"
    # plain queries, and DML-shaped text inside strings/comments, don't match
    assert parse_dml("SELECT 'CREATE TABLE t AS SELECT 1'") is None
    assert parse_dml("/* INSERT INTO t */ SELECT 1") is None
    assert parse_dml("SELECT * FROM create_table_log") is None


@pytest.fixture()
def lh(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path))


def test_ctas_insert_roundtrip_with_time_travel(spark, lh):
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id * 10 AS DOUBLE) AS value
          FROM range(5)
        """
    )
    assert {r["key"] for r in lh.sql("SELECT key FROM t").collect()} == {
        "0", "1", "2", "3", "4"
    }
    # INSERT upserts a newer version of key 0 and a new key
    lh.sql(
        """
        INSERT INTO t
        SELECT '0' AS key, timestamp'2024-02-01 00:00:00' AS event_time,
               99.0 AS value
        UNION ALL
        SELECT '9', timestamp'2024-02-01 00:00:00', 90.0
        """
    )
    cur = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    }
    assert cur["0"] == 99.0 and cur["9"] == 90.0 and cur["1"] == 10.0
    # event-time travel to before the insert sees the original value
    old = {
        r["key"]: r["value"]
        for r in lh.sql(
            "SELECT key, value FROM t AT ('2024-01-15T00:00:00.000Z')"
        ).collect()
    }
    assert old["0"] == 0.0 and "9" not in old


def test_ctas_from_time_travel_source(spark, lh, tmp_path, reference_data):
    """The CTAS source query may itself time-travel an azof table."""
    ref = Lakehouse(spark, reference_data)
    # materialize the reference table into this lakehouse as-of a date
    df = ref.scan("table0", as_of="2024-01-15T00:00:00.000Z")
    df.createOrReplaceTempView("t0_src")
    lh.sql("CREATE TABLE snap AS SELECT * FROM t0_src")
    got = {r["key"]: r["value"] for r in lh.sql("SELECT * FROM snap").collect()}
    exp = {r["key"]: r["value"] for r in df.collect()}
    assert got == exp


def test_ctas_refuses_existing_without_replace(spark, lh):
    lh.sql(
        "CREATE TABLE t AS SELECT '1' AS key, "
        "timestamp'2024-01-01' AS event_time, 1.0 AS value"
    )
    with pytest.raises(BazofError, match="already exists"):
        lh.sql(
            "CREATE TABLE t AS SELECT '2' AS key, "
            "timestamp'2024-01-01' AS event_time, 2.0 AS value"
        )
    lh.sql(
        "CREATE OR REPLACE TABLE t AS SELECT '2' AS key, "
        "timestamp'2024-01-01' AS event_time, 2.0 AS value"
    )
    assert {r["key"] for r in lh.sql("SELECT key FROM t").collect()} == {"2"}
    # prior version remains pinnable
    assert {
        r["key"]
        for r in lh.sql("SELECT key FROM t FOR VERSION AS OF 1").collect()
    } == {"1"}


def test_insert_into_missing_table_fails(spark, lh):
    with pytest.raises(BazofError, match="missing table"):
        lh.sql(
            "INSERT INTO nope SELECT '1' AS key, "
            "timestamp'2024-01-01' AS event_time, 1.0 AS value"
        )


def test_insert_positional_literals(spark, lh):
    lh.sql(
        "CREATE TABLE kv AS SELECT CAST(id AS STRING) key, "
        "timestamp'2024-01-01' event_time, id * 2 value FROM range(4)"
    )
    # bare literals: aligned by position like standard SQL INSERT
    lh.sql("INSERT INTO kv SELECT '0', timestamp'2024-06-01', 100")
    cur = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM kv").collect()
    }
    assert cur["0"] == 100 and cur["1"] == 2


def test_show_and_describe_statements(spark, lh):
    lh.sql(
        "CREATE TABLE t1 AS SELECT '1' AS key, "
        "timestamp'2024-01-01' AS event_time, 1.0 AS value"
    )
    lh.sql("INSERT INTO t1 SELECT '2', timestamp'2024-02-01', 2.0")
    assert [r["table"] for r in lh.sql("SHOW TABLES").collect()] == ["t1"]
    desc = {r["column"]: r["kind"] for r in lh.sql("DESCRIBE t1").collect()}
    assert desc == {"key": "system", "event_time": "system", "value": "value"}
    vers = {
        r["version"]: r["is_current"]
        for r in lh.sql("SHOW VERSIONS OF t1").collect()
    }
    assert vers == {"1": False, "2": True}
    # SHOW/DESCRIBE text inside a string is a plain query, not a statement
    assert lh.sql("SELECT 'SHOW TABLES' AS s").collect()[0]["s"] == "SHOW TABLES"


def test_parse_merge_detection():
    from bazof_spark.sql import SqlRewriteError

    d = parse_dml("MERGE INTO t USING SELECT * FROM s")
    assert d.kind == "merge" and d.table == "t"
    assert d.select.strip() == "SELECT * FROM s"
    # the canonical Delta-style clause is accepted and stripped
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s "
        "ON key WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.kind == "merge" and d.select.strip() == "SELECT * FROM s"
    # a JOIN ... ON key inside the source is NOT mistaken for the clause
    d = parse_dml("MERGE INTO t USING SELECT * FROM a JOIN b ON key = b.k")
    assert d.select.strip() == "SELECT * FROM a JOIN b ON key = b.k"
    # delete / insert-only / multi-clause / per-column SET are all
    # SUPPORTED shapes now; a malformed clause still errors loudly
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s "
        "ON key WHEN MATCHED THEN UPDATE SET v = 1"
    )
    assert d.kind == "merge_multi"
    assert d.clauses == (("update_set", "", (("v", "1"),)),)
    with pytest.raises(SqlRewriteError, match="must end in"):
        parse_dml(
            "MERGE INTO t USING SELECT * FROM s "
            "ON key WHEN MATCHED THEN TRUNCATE"
        )
    # ...but WHEN MATCHED inside a string literal is data, not a clause
    d = parse_dml("MERGE INTO t USING SELECT 'WHEN MATCHED THEN DELETE' AS x")
    assert d.kind == "merge"


def test_merge_into_upserts_by_key(spark, lh):
    lh.sql(
        """
        CREATE TABLE m AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id * 10 AS DOUBLE) AS value
          FROM range(3)
        """
    )
    res = lh.sql(
        """
        MERGE INTO m USING
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-02-01 00:00:00' AS event_time,
               CAST(id * 100 AS DOUBLE) AS value
          FROM range(2, 5)
        ON key WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
        """
    ).collect()
    assert res[0]["operation"] == "merge" and res[0]["version"] == "2"
    got = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM m").collect()
    }
    # key 2 matched → updated; keys 3-4 not matched → inserted
    assert got == {"0": 0.0, "1": 10.0, "2": 200.0, "3": 300.0, "4": 400.0}
    # pre-merge state remains time-travelable
    old = {
        r["key"]: r["value"]
        for r in lh.sql(
            "SELECT key, value FROM m AT ('2024-01-15T00:00:00.000Z')"
        ).collect()
    }
    assert old == {"0": 0.0, "1": 10.0, "2": 20.0}


def test_merge_into_missing_table_fails(spark, lh):
    with pytest.raises(BazofError, match="MERGE"):
        lh.sql("MERGE INTO nope USING SELECT 1")


def test_parse_maintenance_detection():
    from bazof_spark.sql import parse_maintenance

    m = parse_maintenance("OPTIMIZE t")
    assert m.kind == "optimize" and m.table == "t" and m.cluster_by == ()
    m = parse_maintenance("optimize t zorder by (key, value);")
    assert m.cluster_by == ("key", "value")
    m = parse_maintenance("VACUUM t RETAIN 2 VERSIONS")
    assert m.kind == "vacuum" and m.keep_versions == 2 and not m.dry_run
    m = parse_maintenance("VACUUM t DRY RUN")
    assert m.keep_versions is None and m.dry_run
    m = parse_maintenance("CHECKPOINT t")
    assert m.kind == "checkpoint"
    m = parse_maintenance("RESTORE t TO VERSION 3")
    assert m.kind == "restore" and m.version == 3
    # plain queries / lookalikes inside strings never match
    assert parse_maintenance("SELECT 'OPTIMIZE t'") is None
    assert parse_maintenance("SELECT * FROM vacuum_log") is None
    assert parse_maintenance("SELECT 1") is None


def test_sql_maintenance_statements_end_to_end(spark, lh):
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(6)
        """
    )
    lh.sql(
        "INSERT INTO t SELECT '0', timestamp'2024-02-01 00:00:00', 99.0"
    )
    before = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    }

    [st] = lh.sql("OPTIMIZE t ZORDER BY (value)").collect()
    assert st["operation"] == "optimize" and "zorder" in st["detail"]
    after = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    }
    assert after == before  # compaction is read-invisible
    # Current is served by the single merged base now
    assert (
        len(lh.table("t").get_current_snapshot().get_data_files()) == 1
    )

    [st] = lh.sql("CHECKPOINT t").collect()
    assert st["operation"] == "checkpoint"

    # restore to the pre-optimize version: values revert to that state
    [st] = lh.sql("RESTORE t TO VERSION 2").collect()
    assert st["operation"] == "restore"
    assert {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    } == before

    # dry-run vacuum reports without deleting; real vacuum prunes old
    # snapshots (min_age retention protects young data files by design)
    [st] = lh.sql("VACUUM t RETAIN 1 VERSIONS DRY RUN").collect()
    assert st["operation"] == "vacuum" and "dry run" in st["detail"]
    [st] = lh.sql("VACUUM t RETAIN 1 VERSIONS").collect()
    assert "removed_snapshots=" in st["detail"]
    # table still reads correctly after the GC
    assert {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    } == before


def test_parse_delete_detection():
    d = parse_dml("DELETE FROM t WHERE key = 'a'")
    assert d.kind == "delete" and d.table == "t" and d.select == "key = 'a'"
    d = parse_dml("delete from x.y;")
    assert d.kind == "delete" and d.select == ""
    assert parse_dml("SELECT 'DELETE FROM t'") is None
    assert parse_dml("SELECT * FROM delete_log") is None


def test_parse_update_detection():
    d = parse_dml("UPDATE t SET value = 1.5 WHERE key = 'a'")
    assert d.kind == "update" and d.table == "t"
    assert d.sets == (("value", "1.5"),) and d.select == "key = 'a'"
    # multiple assignments; expressions may contain commas in parens
    # and WHERE inside strings/subqueries must not split the predicate
    d = parse_dml(
        "UPDATE t SET a = coalesce(a, 0), b = 'WHERE not a predicate' "
        "WHERE key IN (SELECT key FROM s WHERE flag)"
    )
    assert d.sets == (
        ("a", "coalesce(a, 0)"),
        ("b", "'WHERE not a predicate'"),
    )
    assert d.select == "key IN (SELECT key FROM s WHERE flag)"
    # no WHERE → all rows
    d = parse_dml("update x.y set v = v + 1;")
    assert d.sets == (("v", "v + 1"),) and d.select == ""
    assert parse_dml("SELECT 'UPDATE t SET v = 1'") is None
    assert parse_dml("SELECT * FROM update_log") is None
    from bazof_spark.sql import SqlRewriteError

    with pytest.raises(SqlRewriteError, match="column = expression"):
        parse_dml("UPDATE t SET 42")


def test_update_statement_end_to_end(spark, lh):
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id * 10 AS DOUBLE) AS value,
               'raw' AS status
          FROM range(4)
        """
    )
    v1 = lh.table("t").current_version()
    [st] = lh.sql(
        "UPDATE t SET value = value + 0.5, status = 'adj' WHERE key IN ('1', '3')"
    ).collect()
    assert st["operation"] == "update"
    assert int(st["version"]) == int(v1) + 1

    cur = {
        r["key"]: (r["value"], r["status"])
        for r in lh.sql("SELECT key, value, status FROM t").collect()
    }
    assert cur == {
        "0": (0.0, "raw"),
        "1": (10.5, "adj"),
        "2": (20.0, "raw"),
        "3": (30.5, "adj"),
    }
    # time-travel-consistent: an as-of before the update sees old values
    old = {
        r["key"]: r["value"]
        for r in lh.sql(
            "SELECT key, value FROM t AT ('2024-06-01T00:00:00.000Z')"
        ).collect()
    }
    assert old["1"] == 10.0 and old["3"] == 30.0

    # the change feed classifies the updated keys as 'update' (key
    # exists on both sides of the diff) with the new values late
    feed = {
        r["key"]: (r["change_type"], r["value_late"])
        for r in lh.scan_changes(
            "t", since="2025-01-01T00:00:00.000Z"
        ).collect()
    }
    assert feed == {"1": ("update", 10.5), "3": ("update", 30.5)}

    # no-match UPDATE is a no-op (no new version)
    v2 = lh.table("t").current_version()
    lh.sql("UPDATE t SET value = -1 WHERE key = 'zzz'")
    assert lh.table("t").current_version() == v2

    # key/event_time are immutable; unknown columns rejected
    with pytest.raises(BazofError, match="assignable"):
        lh.sql("UPDATE t SET key = 'x'")
    with pytest.raises(BazofError, match="assignable"):
        lh.sql("UPDATE t SET nope = 1")
    with pytest.raises(BazofError, match="missing table"):
        lh.sql("UPDATE ghost SET value = 1")


def test_update_conflicts_on_concurrent_commit(spark, lh):
    """UPDATE is a read-modify-write: a commit landing between the
    matched-read and the publish must raise CommitConflictError (the
    update's rows were derived without seeing it), never silently
    shadow the concurrent writer."""
    from bazof_spark.errors import CommitConflictError
    from bazof_spark.writer import append_delta

    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(3)
        """
    )
    path = lh.table("t").path
    pinned = lh.table("t").current_version()
    # concurrent writer commits after the update's would-be read
    lh.sql("INSERT INTO t SELECT '9', timestamp'2024-02-01 00:00:00', 9.0")
    stale = lh.spark.createDataFrame(
        [("0", __import__("datetime").datetime(2024, 3, 1), 99.0)],
        "key string, event_time timestamp, value double",
    )
    with pytest.raises(CommitConflictError, match="re-derive"):
        append_delta(
            lh.spark, path, stale, create_segment=True,
            expected_version=pinned,
        )
    # and the wiring: Lakehouse.update pins the pre-read version
    import bazof_spark.writer as w

    seen = {}
    orig = w.append_delta

    def spy(spark, table_path, df, **kw):
        seen.update(kw)
        return orig(spark, table_path, df, **kw)

    w.append_delta = spy
    try:
        assert lh.update("t", {"value": "value + 1"}, where="key = '0'")
    finally:
        w.append_delta = orig
    assert seen.get("expected_version") is not None


def test_parse_merge_delete_detection():
    d = parse_dml(
        "MERGE INTO t USING SELECT key FROM s ON key "
        "WHEN MATCHED THEN DELETE"
    )
    assert d.kind == "merge_delete" and d.table == "t" and d.clauses[0][1] == ""
    assert d.select.strip() == "SELECT key FROM s"
    d = parse_dml(
        "merge into x.y using (select 'a' as key) on key "
        "when matched and value > 5 then delete;"
    )
    assert d.kind == "merge_delete" and d.clauses[0][1] == "value > 5"
    # the upsert canonical form still parses as plain merge
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key WHEN MATCHED THEN "
        "UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.kind == "merge"
    # per-column SET parses as a multi-clause statement since round 8
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED THEN UPDATE SET v = 1"
    )
    assert d.kind == "merge_multi"


def test_merge_delete_end_to_end(spark, lh):
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(6)
        """
    )
    v1 = int(lh.table("t").current_version())
    # unpredicated: every matched key is tombstoned; unmatched source
    # keys ('9') and untouched target keys survive
    [st] = lh.sql(
        "MERGE INTO t USING SELECT * FROM (VALUES ('1'), ('3'), ('9')) "
        "AS s(key) ON key WHEN MATCHED THEN DELETE"
    ).collect()
    assert st["operation"] == "merge_delete"
    assert int(st["version"]) == v1 + 1
    assert {r["key"] for r in lh.sql("SELECT key FROM t").collect()} == {
        "0", "2", "4", "5",
    }
    # time-travel-consistent: the pre-merge version still sees them
    assert lh.sql(
        f"SELECT key FROM t FOR VERSION AS OF {v1}"
    ).count() == 6

    # predicated: only matched keys whose CURRENT row satisfies pred
    lh.sql(
        "MERGE INTO t USING SELECT * FROM (VALUES ('0'), ('4'), ('5')) "
        "AS s(key) ON key WHEN MATCHED AND value >= 4.5 THEN DELETE"
    )
    assert {r["key"] for r in lh.sql("SELECT key FROM t").collect()} == {
        "0", "2", "4",
    }

    # no-match merge-delete is a version no-op
    v = lh.table("t").current_version()
    lh.sql(
        "MERGE INTO t USING SELECT 'zzz' AS key ON key "
        "WHEN MATCHED THEN DELETE"
    )
    assert lh.table("t").current_version() == v

    # a source without a key column errors loudly
    with pytest.raises(BazofError, match="'key'"):
        lh.sql(
            "MERGE INTO t USING SELECT 1 AS nope ON key "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(BazofError, match="missing table"):
        lh.sql(
            "MERGE INTO ghost USING SELECT 'a' AS key ON key "
            "WHEN MATCHED THEN DELETE"
        )


def test_parse_merge_insert_only_detection():
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.kind == "merge_insert" and d.table == "t"
    assert d.select.strip() == "SELECT * FROM s"
    # the canonical two-clause form still parses as plain merge
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key WHEN MATCHED THEN "
        "UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.kind == "merge"


def test_merge_insert_only_end_to_end(spark, lh):
    """Insert-only merge: absent keys append, existing keys are left
    UNTOUCHED (a plain MERGE would upsert them), and the commit pins
    the anti-join's read version."""
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(3)
        """
    )
    [st] = lh.sql(
        "MERGE INTO t USING "
        "SELECT '1' AS key, timestamp'2024-02-01' AS event_time, 99.0 AS value "
        "UNION ALL SELECT '9', timestamp'2024-02-01', 9.0 "
        "ON key WHEN NOT MATCHED THEN INSERT *"
    ).collect()
    assert st["operation"] == "merge_insert"
    got = {r["key"]: r["value"] for r in lh.sql("SELECT key, value FROM t").collect()}
    # key '1' existed: NOT overwritten; key '9' was absent: inserted
    assert got == {"0": 0.0, "1": 1.0, "2": 2.0, "9": 9.0}

    # all-matched source is a version no-op
    v = lh.table("t").current_version()
    lh.sql(
        "MERGE INTO t USING SELECT '0' AS key, "
        "timestamp'2024-03-01' AS event_time, 5.0 AS value "
        "ON key WHEN NOT MATCHED THEN INSERT *"
    )
    assert lh.table("t").current_version() == v

    # version pin reaches the commit
    import bazof_spark.writer as w

    seen = {}
    orig = w.merge_apply

    def spy(spark, table_path, **kw):
        seen.update(kw)
        return orig(spark, table_path, **kw)

    w.merge_apply = spy
    try:
        lh.sql(
            "MERGE INTO t USING SELECT 'z' AS key, "
            "timestamp'2024-03-01' AS event_time, 1.0 AS value "
            "ON key WHEN NOT MATCHED THEN INSERT *"
        )
    finally:
        w.merge_apply = orig
    assert seen.get("expected_version") is not None


def test_merge_delete_pins_read_version(spark, lh):
    """merge-delete is a read-modify-write: the tombstone commit must
    CAS against the version the matched set was computed on."""
    import bazof_spark.writer as w

    lh.sql(
        "CREATE TABLE t AS SELECT 'a' AS key, "
        "timestamp'2024-01-01' AS event_time, 1.0 AS value"
    )
    seen = {}
    orig = w.merge_apply

    def spy(spark, table_path, **kw):
        seen.update(kw)
        return orig(spark, table_path, **kw)

    w.merge_apply = spy
    try:
        lh.sql(
            "MERGE INTO t USING SELECT 'a' AS key ON key "
            "WHEN MATCHED THEN DELETE"
        )
    finally:
        w.merge_apply = orig
    assert seen.get("expected_version") is not None
    assert seen.get("delete_keys_df") is not None
    assert lh.sql("SELECT key FROM t").count() == 0  # the tombstone landed


def test_update_casts_set_expressions_to_declared_types(spark, lh):
    """SQL arithmetic widens (Int / 2 → DOUBLE); the committed delta
    must carry the DECLARED column type or every subsequent
    explicit-schema scan breaks on the parquet type mismatch."""
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id * 10 AS BIGINT) AS v
          FROM range(4)
        """
    )
    from bazof_spark.schema import ColumnType

    assert lh.table("t").get_current_snapshot().schema.columns[0].data_type \
        is ColumnType.INT
    lh.sql("UPDATE t SET v = v / 2")  # v/2 is DOUBLE in SQL
    # the table still scans with its declared Int64 schema, and the
    # values are the truncating cast of the division result
    got = {r["key"]: r["v"] for r in lh.sql("SELECT key, v FROM t").collect()}
    assert got == {"0": 0, "1": 5, "2": 10, "3": 15}
    assert dict(lh.scan("t").dtypes)["v"] == "bigint"
    # and DataFrame-API update too (same proj builder)
    assert lh.update("t", {"v": "v + 0.9"})  # double expr → cast back
    got = {r["key"]: r["v"] for r in lh.sql("SELECT key, v FROM t").collect()}
    assert got == {"0": 0, "1": 5, "2": 10, "3": 15}


def test_sql_delete_pins_read_version(spark, lh):
    """SQL DELETE is a read-modify-write like UPDATE: the tombstone
    commit must CAS against the version the predicate was evaluated on,
    so a commit slipping in between conflicts instead of silently
    deleting keys judged against the stale snapshot."""
    import bazof_spark.writer as w

    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(3)
        """
    )
    seen = {}
    orig = w.append_delta

    def spy(spark, table_path, df, **kw):
        seen.update(kw)
        return orig(spark, table_path, df, **kw)

    w.append_delta = spy
    try:
        lh.sql("DELETE FROM t WHERE key = '1'")
    finally:
        w.append_delta = orig
    assert seen.get("expected_version") is not None
    assert seen.get("tombstone") is True


def test_parse_alter_table_detection():
    from bazof_spark.sql import SqlRewriteError, parse_maintenance

    m = parse_maintenance("ALTER TABLE t ADD COLUMN score DOUBLE")
    assert m.kind == "alter" and m.table == "t"
    assert m.add_columns == (("score", "Float"),) and m.drop_columns == ()
    m = parse_maintenance("alter table x.y add columns (a INT, b varchar);")
    assert m.add_columns == (("a", "Int"), ("b", "String"))
    m = parse_maintenance("ALTER TABLE t DROP COLUMN score")
    assert m.drop_columns == ("score",) and m.add_columns == ()
    m = parse_maintenance("ALTER TABLE t DROP COLUMNS (a, b)")
    assert m.drop_columns == ("a", "b")
    assert parse_maintenance("SELECT 'ALTER TABLE t ADD COLUMN x INT'") is None
    # BLOB maps to the round-11 Binary extension now
    m = parse_maintenance("ALTER TABLE t ADD COLUMN x BLOB")
    assert m.add_columns == (("x", "Binary"),)
    with pytest.raises(SqlRewriteError, match="unsupported column type"):
        parse_maintenance("ALTER TABLE t ADD COLUMN x UUID")
    with pytest.raises(SqlRewriteError, match="name TYPE"):
        parse_maintenance("ALTER TABLE t ADD COLUMN x")


def test_alter_table_end_to_end(spark, lh):
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(3)
        """
    )
    [st] = lh.sql("ALTER TABLE t ADD COLUMN note STRING").collect()
    assert st["operation"] == "alter" and "added note String" in st["detail"]
    cols = {r["column"] for r in lh.sql("DESCRIBE t").collect()}
    assert "note" in cols
    # old rows null-fill the added column; new writes may carry it
    assert {r["note"] for r in lh.sql("SELECT note FROM t").collect()} == {None}
    lh.sql(
        "INSERT INTO t SELECT '9', timestamp'2024-02-01 00:00:00', 9.0, 'hi'"
    )
    got = {r["key"]: r["note"] for r in lh.sql("SELECT key, note FROM t").collect()}
    assert got["9"] == "hi" and got["0"] is None

    [st] = lh.sql("ALTER TABLE t DROP COLUMN note").collect()
    assert "dropped note" in st["detail"]
    assert "note" not in {r["column"] for r in lh.sql("DESCRIBE t").collect()}
    # data files are untouched; the scan simply stops selecting it
    assert lh.sql("SELECT key FROM t").count() == 4


def test_parse_alter_rename_and_widen_detection():
    from bazof_spark.sql import SqlRewriteError, parse_maintenance

    m = parse_maintenance("ALTER TABLE t RENAME COLUMN a TO b")
    assert m.kind == "alter" and m.rename_columns == (("a", "b"),)
    assert m.add_columns == () and m.widen_columns == ()
    m = parse_maintenance("alter table x.y rename column old_v to v;")
    assert m.rename_columns == (("old_v", "v"),)
    m = parse_maintenance("ALTER TABLE t ALTER COLUMN n TYPE DOUBLE")
    assert m.kind == "alter" and m.widen_columns == (("n", "Float"),)
    m = parse_maintenance("ALTER TABLE t ALTER COLUMN n SET DATA TYPE FLOAT")
    assert m.widen_columns == (("n", "Float"),)
    m = parse_maintenance("ALTER TABLE t ALTER COLUMN n TYPE BLOB")
    assert m.widen_columns == (("n", "Binary"),)
    with pytest.raises(SqlRewriteError, match="unsupported column type"):
        parse_maintenance("ALTER TABLE t ALTER COLUMN n TYPE UUID")
    assert parse_maintenance("SELECT 'ALTER TABLE t RENAME COLUMN a TO b'") \
        is None


def test_rename_column_end_to_end(spark, lh):
    """RENAME COLUMN is metadata-only: old files keep the former name on
    disk; scans coalesce the spellings; new writes use the new name;
    version travel to a pre-rename snapshot still shows the old name."""
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS amount
          FROM range(3)
        """
    )
    v1 = int(lh.table("t").current_version())
    [st] = lh.sql("ALTER TABLE t RENAME COLUMN amount TO total").collect()
    assert st["operation"] == "alter" and "renamed amount to total" in st["detail"]

    # scan resolves old files through the former name
    got = {r["key"]: r["total"] for r in lh.sql("SELECT key, total FROM t").collect()}
    assert got == {"0": 0.0, "1": 1.0, "2": 2.0}
    assert "total" in {r["column"] for r in lh.sql("DESCRIBE t").collect()}

    # new writes use the NEW name; mixed old/new files coalesce
    lh.sql("INSERT INTO t SELECT '9', timestamp'2024-02-01', 99.0")
    lh.sql("INSERT INTO t SELECT '0', timestamp'2024-02-01', 42.0")
    got = {r["key"]: r["total"] for r in lh.sql("SELECT key, total FROM t").collect()}
    assert got == {"0": 42.0, "1": 1.0, "2": 2.0, "9": 99.0}

    # version travel to the pre-rename snapshot shows the OLD schema
    old = lh.scan("t", version=v1)
    assert "amount" in old.columns and "total" not in old.columns

    # the Data Source read path agrees with the native scan
    from bazof_spark.datasource import read_table

    via = read_table(spark, lh.root, "t")
    assert sorted(
        map(tuple, via.select("key", "total").collect())
    ) == sorted(got.items())

    # UPDATE/DELETE work on the renamed column
    lh.sql("UPDATE t SET total = total + 1 WHERE key = '1'")
    [row] = lh.sql("SELECT total FROM t WHERE key = '1'").collect()
    assert row["total"] == 2.0

    # a checkpoint after the rename migrates Current and stays correct
    from bazof_spark.maintenance import checkpoint_table, validate_table

    from datetime import datetime, timezone

    checkpoint_table(lh, "t", datetime.now(timezone.utc))
    got2 = {r["key"]: r["total"] for r in lh.sql("SELECT key, total FROM t").collect()}
    assert got2 == {"0": 42.0, "1": 2.0, "2": 2.0, "9": 99.0}
    validate_table(lh, "t").raise_if_invalid()

    # guard rails: former names cannot be reused, targets must be free
    with pytest.raises(BazofError, match="FORMER name"):
        lh.sql("ALTER TABLE t ADD COLUMN amount DOUBLE")
    with pytest.raises(BazofError, match="already exists"):
        lh.sql("ALTER TABLE t RENAME COLUMN total TO key")
    with pytest.raises(BazofError, match="unknown column"):
        lh.sql("ALTER TABLE t RENAME COLUMN ghost TO g2")


def test_change_feed_across_a_rename(spark, lh):
    """scan_changes spanning a RENAME names both sides by the CURRENT
    schema (one logical column) and reads the pre-rename side's values
    through the formers coalesce."""
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS amount
          FROM range(3)
        """
    )
    lh.sql("ALTER TABLE t RENAME COLUMN amount TO total")
    lh.sql("INSERT INTO t SELECT '0', timestamp'2024-02-01', 42.0")
    feed = {
        r["key"]: (r["change_type"], r["total_early"], r["total_late"])
        for r in lh.scan_changes(
            "t", since="2024-01-15T00:00:00.000Z"
        ).collect()
    }
    # only key 0 changed; its early value comes from a pre-rename file
    assert feed == {"0": ("update", 0.0, 42.0)}


def test_vacuum_reclaims_pre_widen_files(spark, lh):
    """A widen leaves the pre-rewrite files referenced only by older
    snapshots; VACUUM RETAIN 1 VERSIONS (min_age 0) removes them while
    the current rewritten table keeps reading correctly."""
    import os

    from bazof_spark.maintenance import vacuum_table, validate_table

    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id * 10 AS BIGINT) AS n
          FROM range(3)
        """
    )
    path = lh.table("t").path
    before = {
        f for f in os.listdir(path) if f.endswith(".parquet")
    }
    lh.sql("ALTER TABLE t ALTER COLUMN n TYPE DOUBLE")
    res = vacuum_table(lh, "t", keep_versions=1, min_age_s=0)
    # every pre-widen parquet is unreferenced by the retained snapshot
    assert before <= set(res["removed_files"]), (before, res)
    got = {r["key"]: r["n"] for r in lh.sql("SELECT key, n FROM t").collect()}
    assert got == {"0": 0.0, "1": 10.0, "2": 20.0}
    validate_table(lh, "t").raise_if_invalid()


def test_widen_column_end_to_end(spark, lh):
    """Int -> Float widening: declared type changes, every referenced
    file is rewritten with the cast (row order preserved), history
    stays readable at every as-of, pre-widen version travel keeps the
    old schema, and post-widen writes carry fractional values."""
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id * 10 AS BIGINT) AS n
          FROM range(3)
        """
    )
    lh.sql("INSERT INTO t SELECT '0', timestamp'2024-02-01', CAST(7 AS BIGINT)")
    v_pre = int(lh.table("t").current_version())
    [st] = lh.sql("ALTER TABLE t ALTER COLUMN n TYPE DOUBLE").collect()
    assert "widened n to Float" in st["detail"]

    assert dict(lh.scan("t").dtypes)["n"] == "double"
    got = {r["key"]: r["n"] for r in lh.sql("SELECT key, n FROM t").collect()}
    assert got == {"0": 7.0, "1": 10.0, "2": 20.0}
    # as-of BEFORE the later upsert still sees the original values —
    # the rewrite preserved the whole history, not just Current
    old = {
        r["key"]: r["n"]
        for r in lh.sql(
            "SELECT key, n FROM t AT ('2024-01-15T00:00:00.000Z')"
        ).collect()
    }
    assert old == {"0": 0.0, "1": 10.0, "2": 20.0}
    # version travel to the pre-widen snapshot reads the OLD files
    # with the OLD type
    pre = lh.scan("t", version=v_pre)
    assert dict(pre.dtypes)["n"] == "bigint"
    assert {r["key"]: r["n"] for r in pre.collect()} == {
        "0": 7, "1": 10, "2": 20,
    }

    # post-widen writes carry fractional values
    lh.sql("INSERT INTO t SELECT '1', timestamp'2024-03-01', 1.5")
    [row] = lh.sql("SELECT n FROM t WHERE key = '1'").collect()
    assert row["n"] == 1.5

    from bazof_spark.maintenance import validate_table

    validate_table(lh, "t").raise_if_invalid()

    # the rule is Int -> Float ONLY; system columns are not widenable
    with pytest.raises(BazofError, match="unknown column"):
        lh.sql("ALTER TABLE t ALTER COLUMN key TYPE DOUBLE")
    with pytest.raises(BazofError, match="widening rule|unknown column"):
        lh.sql("ALTER TABLE t ALTER COLUMN n TYPE BIGINT")


def test_concurrent_updates_lose_no_increments(spark, lh):
    """The lost-update litmus: N threads each apply 'value = value + 1'
    through Lakehouse.update with a retry-on-conflict loop. Because
    update pins its read version and the commit CAS-checks the pin,
    every successful publish saw the previous one — the final value
    must be EXACTLY the number of increments (a stale read-modify-write
    slipping through would make it smaller)."""
    import threading

    from bazof_spark.errors import CommitConflictError

    lh.sql(
        "CREATE TABLE c AS SELECT 'a' AS key, "
        "timestamp'2024-01-01' AS event_time, 0.0 AS value"
    )
    increments_per_thread, n_threads = 3, 4
    errors = []

    def worker():
        try:
            for _ in range(increments_per_thread):
                for attempt in range(50):
                    try:
                        assert lh.update(
                            "c", {"value": "value + 1"}, where="key = 'a'"
                        )
                        break
                    except CommitConflictError:
                        continue
                else:
                    raise AssertionError("update never committed")
        except Exception as exc:  # surface thread failures to pytest
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    [row] = lh.sql("SELECT value FROM c WHERE key = 'a'").collect()
    assert row["value"] == float(increments_per_thread * n_threads)


def test_parse_merge_multi_clause_detection():
    """Combined clause lists parse into ordered (action, pred) tuples;
    malformed combinations error with the clause in the message."""
    from bazof_spark.sql import SqlRewriteError

    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED AND value < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.kind == "merge_multi" and d.table == "t"
    assert d.select.strip() == "SELECT * FROM s"
    assert d.clauses == (("delete", "value < 0"), ("update", ""))
    assert d.insert_unmatched
    # predicated update alone (single clause the legacy forms lack)
    d = parse_dml(
        "merge into t using select * from s on key "
        "when matched and value > 1 then update set *;"
    )
    assert d.kind == "merge_multi"
    assert d.clauses == (("update", "value > 1"),)
    assert not d.insert_unmatched
    # two predicated deletes + insert, order preserved
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED AND a THEN DELETE "
        "WHEN MATCHED AND b THEN UPDATE SET * "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.clauses == (
        ("delete", "a"), ("update", "b"), ("delete", ""),
    )
    # the single-clause shapes keep their own labels
    assert parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED THEN DELETE"
    ).kind == "merge_delete"
    assert parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key WHEN MATCHED THEN "
        "UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ).kind == "merge"
    # an unpredicated MATCHED clause shadowing later clauses errors
    with pytest.raises(SqlRewriteError, match="unreachable"):
        parse_dml(
            "MERGE INTO t USING SELECT * FROM s ON key "
            "WHEN MATCHED THEN DELETE "
            "WHEN MATCHED AND x THEN UPDATE SET *"
        )
    with pytest.raises(SqlRewriteError, match="at most one WHEN NOT"):
        parse_dml(
            "MERGE INTO t USING SELECT * FROM s ON key "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    with pytest.raises(SqlRewriteError, match="WHEN NOT MATCHED"):
        parse_dml(
            "MERGE INTO t USING SELECT * FROM s ON key "
            "WHEN NOT MATCHED THEN DELETE"
        )
    # per-column UPDATE SET col = expr is SUPPORTED since late round 8
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED AND x THEN UPDATE SET v = 1 "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.clauses == (("update_set", "x", (("v", "1"),)),)
    assert d.insert_unmatched


def test_merge_multi_clause_end_to_end(spark, lh):
    """One statement, three clauses, ONE version bump: matched keys
    route to the FIRST clause whose predicate holds on their current
    row (delete vs full-row upsert), unmatched source keys insert —
    and the whole outcome is atomic (data delta + tombstone delta in
    the same snapshot)."""
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(6)
        """
    )
    v1 = int(lh.table("t").current_version())
    # source rows: keys 1,3,4 matched; key 9 unmatched
    [st] = lh.sql(
        "MERGE INTO t USING "
        "SELECT CAST(k AS STRING) AS key, "
        "timestamp'2024-02-01' AS event_time, CAST(v AS DOUBLE) AS value "
        "FROM (VALUES (1, 100.0), (3, 300.0), (4, 400.0), (9, 900.0)) "
        "AS s(k, v) ON key "
        "WHEN MATCHED AND value < 2 THEN DELETE "
        "WHEN MATCHED AND value < 4 THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).collect()
    assert st["operation"] == "merge_multi"
    # ONE atomic commit for the whole statement
    assert int(st["version"]) == v1 + 1
    got = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    }
    # key 1 (current value 1.0 < 2): deleted
    # key 3 (3.0: fails pred1, passes pred2 < 4): upserted to 300.0
    # key 4 (4.0: fails both predicates): left untouched
    # key 9: unmatched, inserted at 900.0
    assert got == {
        "0": 0.0, "2": 2.0, "3": 300.0, "4": 4.0, "5": 5.0, "9": 900.0,
    }
    # time travel: the pre-merge version is intact
    old = {
        r["key"]: r["value"]
        for r in lh.sql(
            f"SELECT key, value FROM t FOR VERSION AS OF {v1}"
        ).collect()
    }
    assert old == {str(i): float(i) for i in range(6)}

    # no-effect statement (nothing matches, nothing to insert) is a
    # version no-op — merge_apply's empty contract
    v = lh.table("t").current_version()
    lh.sql(
        "MERGE INTO t USING SELECT 'zzz' AS key, "
        "timestamp'2024-03-01' AS event_time, 0.0 AS value ON key "
        "WHEN MATCHED AND value < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    assert lh.table("t").current_version() == v


def test_merge_multi_null_predicate_keeps_row(spark, lh):
    """Three-valued logic: a predicate evaluating to NULL on the
    target's current row means the clause does NOT apply — the key must
    fall through to later clauses (or stay untouched), never be
    swallowed by NOT/NULL leakage."""
    lh.sql(
        "CREATE TABLE t AS "
        "SELECT 'a' AS key, timestamp'2024-01-01' AS event_time, "
        "CAST(NULL AS DOUBLE) AS value "
        "UNION ALL SELECT 'b', timestamp'2024-01-01', 1.0"
    )
    lh.sql(
        "MERGE INTO t USING SELECT 'a' AS key, "
        "timestamp'2024-02-01' AS event_time, 7.0 AS value "
        "UNION ALL SELECT 'b', timestamp'2024-02-01', 8.0 ON key "
        "WHEN MATCHED AND value < 100 THEN DELETE"
    )
    got = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    }
    # 'a' (NULL < 100 = NULL → clause does not apply) survives;
    # 'b' (1.0 < 100) is deleted
    assert got == {"a": None}


def _by_source_delete(d):
    """The WHEN NOT MATCHED BY SOURCE DELETE clause's predicate (None =
    no such clause)."""
    return next((cl[1] for cl in d.by_source if cl[0] == "delete"), None)


def test_parse_merge_not_matched_by_source():
    from bazof_spark.sql import SqlRewriteError

    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND value < 10 THEN DELETE"
    )
    assert d.kind == "merge_multi"
    assert d.clauses == (("update", ""),)
    assert _by_source_delete(d) == "value < 10"
    assert not d.insert_unmatched
    # unpredicated form deletes every unmatched target key
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    assert d.kind == "merge_multi"
    assert d.clauses == () and _by_source_delete(d) == ""
    # UPDATE SET * has no source row to take values from — rejected
    with pytest.raises(SqlRewriteError, match="cannot UPDATE SET"):
        parse_dml(
            "MERGE INTO t USING SELECT * FROM s ON key "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
        )
    # ...but an assignment list IS supported (round 9), in statement
    # order with first-match-wins and the matched-list reachability rule
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN NOT MATCHED BY SOURCE AND value < 10 THEN "
        "UPDATE SET value = value * 2 "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    assert d.by_source == (
        ("update_set", "value < 10", (("value", "value * 2"),)),
        ("delete", ""),
    )
    assert _by_source_delete(d) == ""
    with pytest.raises(SqlRewriteError, match="unreachable"):
        parse_dml(
            "MERGE INTO t USING SELECT * FROM s ON key "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE AND x THEN DELETE"
        )
    with pytest.raises(SqlRewriteError, match="immutable"):
        parse_dml(
            "MERGE INTO t USING SELECT * FROM s ON key "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET event_time = x"
        )


def test_merge_not_matched_by_source_end_to_end(spark, lh):
    """The sync-to-source shape: matched keys upsert from the source,
    target keys absent from the source are deleted (pred-narrowed) —
    still ONE atomic version."""
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(6)
        """
    )
    v1 = int(lh.table("t").current_version())
    [st] = lh.sql(
        "MERGE INTO t USING "
        "SELECT CAST(k AS STRING) AS key, timestamp'2024-02-01' AS "
        "event_time, CAST(v AS DOUBLE) AS value "
        "FROM (VALUES (1, 100.0), (9, 900.0)) AS s(k, v) ON key "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND value < 4.5 THEN DELETE"
    ).collect()
    assert st["operation"] == "merge_multi"
    assert int(st["version"]) == v1 + 1  # one commit for all three effects
    got = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    }
    # 1 upserted, 9 inserted; 0,2,3,4 unmatched with value<4.5 deleted;
    # 5 unmatched but value>=4.5 kept
    assert got == {"1": 100.0, "5": 5.0, "9": 900.0}
    # pre-merge version intact
    assert lh.sql(f"SELECT key FROM t FOR VERSION AS OF {v1}").count() == 6


def test_merge_multi_changes_feed_single_version(spark, lh):
    """CDF pin: the atomic multi-clause commit emits BOTH its delete
    rows and its upserted rows under the SAME version window."""
    lh.sql(
        "CREATE TABLE t AS "
        "SELECT CAST(id AS STRING) AS key, "
        "timestamp'2024-01-01' AS event_time, CAST(id AS DOUBLE) AS value "
        "FROM range(4)"
    )
    lh.sql(
        "MERGE INTO t USING SELECT '1' AS key, "
        "timestamp'2024-02-01' AS event_time, 99.0 AS value ON key "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND value < 0.5 THEN DELETE"
    )
    ch = lh.scan_changes("t", since="2024-01-15T00:00:00.000Z").collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["change_type"], set()).add(r["key"])
    assert by_type.get("delete") == {"0"}
    assert "1" in set().union(*[
        v for k, v in by_type.items() if k != "delete"
    ])


def test_parse_merge_update_set_assignments():
    from bazof_spark.sql import SqlRewriteError

    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED AND value < 10 THEN UPDATE SET value = value * 2 "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.kind == "merge_multi"
    assert d.clauses == (
        ("update_set", "value < 10", (("value", "value * 2"),)),
        ("delete", ""),
    )
    # multi-assignment with a CASE (embedded THEN) stays whole
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED THEN UPDATE SET a = CASE WHEN x THEN 1 ELSE 2 END, "
        "b = concat(b, ',x')"
    )
    assert d.clauses == (
        (
            "update_set",
            "",
            (("a", "CASE WHEN x THEN 1 ELSE 2 END"), ("b", "concat(b, ',x')")),
        ),
    )
    # key/event_time are immutable
    with pytest.raises(SqlRewriteError, match="immutable"):
        parse_dml(
            "MERGE INTO t USING SELECT * FROM s ON key "
            "WHEN MATCHED THEN UPDATE SET key = 'x'"
        )
    with pytest.raises(SqlRewriteError, match="column = "):
        parse_dml(
            "MERGE INTO t USING SELECT * FROM s ON key "
            "WHEN MATCHED THEN UPDATE SET 42"
        )


def test_merge_update_set_assignments_end_to_end(spark, lh):
    """Per-column SET inside a clause list: the target's current row
    with expressions applied, committed at the matched source row's
    event_time — deterministic, single version bump, composing with
    DELETE and INSERT clauses."""
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(5)
        """
    )
    v1 = int(lh.table("t").current_version())
    [st] = lh.sql(
        "MERGE INTO t USING "
        "SELECT CAST(k AS STRING) AS key, timestamp'2024-02-01' AS "
        "event_time, CAST(0 AS DOUBLE) AS value "
        "FROM (VALUES (1), (2), (3), (9)) AS s(k) ON key "
        "WHEN MATCHED AND value < 2 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET value = value * 10 + 1 "
        "WHEN NOT MATCHED THEN INSERT *"
    ).collect()
    assert st["operation"] == "merge_multi"
    assert int(st["version"]) == v1 + 1
    got = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    }
    # 1 (value 1.0 < 2): deleted; 2,3: value -> v*10+1 from the OLD
    # value; 9: inserted with the source row (value 0); 0,4 untouched
    assert got == {"0": 0.0, "2": 21.0, "3": 31.0, "4": 4.0, "9": 0.0}
    # the updated rows carry the SOURCE event_time (deterministic)
    ts = {
        r["key"]: r["event_time"].isoformat()
        for r in lh.sql("SELECT key, event_time FROM t").collect()
    }
    assert ts["2"].startswith("2024-02-01")
    assert ts["4"].startswith("2024-01-01")
    # pre-merge version intact
    assert lh.sql(f"SELECT key FROM t FOR VERSION AS OF {v1}").count() == 5
    # unknown column errors loudly
    with pytest.raises(BazofError, match="unknown"):
        lh.sql(
            "MERGE INTO t USING SELECT '2' AS key, "
            "timestamp'2024-03-01' AS event_time, 0.0 AS value ON key "
            "WHEN MATCHED THEN UPDATE SET nope = 1"
        )


def test_parse_merge_action_then_inside_string():
    """ADVICE r9: a predicate string literal containing 'THEN UPDATE
    SET …' must not donate its THEN to the action tail — the action
    anchors on the THEN outside strings (clean parse, not a garbled
    assignment list)."""
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED AND note = 'x THEN UPDATE SET v = 1' THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.kind == "merge_multi"
    assert d.clauses == (("delete", "note = 'x THEN UPDATE SET v = 1'"),)
    assert d.insert_unmatched
    # the lone clause parses the same way
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED AND note = 'x THEN UPDATE SET v = 1' THEN DELETE"
    )
    assert d.kind == "merge_delete"
    assert d.clauses[0][1] == "note = 'x THEN UPDATE SET v = 1'"
    # same protection for an assignment EXPRESSION ending in a string
    # that embeds THEN DELETE
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED THEN UPDATE SET v = 'a THEN DELETE'"
    )
    assert d.clauses == (("update_set", "", (("v", "'a THEN DELETE'"),)),)


def test_merge_update_set_src_columns_end_to_end(spark, lh):
    """ADVICE r9: per-column SET expressions see the matched SOURCE row
    as a struct named `src` — src.<col> reads any source column, while
    unqualified names (including bare event_time) keep resolving to the
    TARGET's current row."""
    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(4)
        """
    )
    lh.sql(
        "MERGE INTO t USING "
        "SELECT CAST(k AS STRING) AS key, timestamp'2024-02-01' AS "
        "event_time, CAST(v AS DOUBLE) AS value "
        "FROM (VALUES (1, 100.0), (2, 200.0)) AS s(k, v) ON key "
        # target value + source value, plus bare event_time (target's)
        # proving no ambiguity between t and the src struct
        "WHEN MATCHED THEN UPDATE SET "
        "value = value + src.value + year(event_time) - 2024"
    )
    got = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    }
    # 1: 1 + 100 + 0; 2: 2 + 200 + 0; others untouched
    assert got == {"0": 0.0, "1": 101.0, "2": 202.0, "3": 3.0}
    # the committed event_time is the SOURCE row's
    ts = {
        r["key"]: r["event_time"].isoformat()
        for r in lh.sql("SELECT key, event_time FROM t").collect()
    }
    assert ts["1"].startswith("2024-02-01")
    assert ts["0"].startswith("2024-01-01")


def test_merge_update_set_stale_source_noop(spark, lh):
    """Documented event-versioned contract: an update_set row commits
    at the SOURCE row's event_time, so a STALE source (earlier than the
    target row's current event_time) loses merge precedence — the
    UPDATE is a no-op for that key, unlike DELETE whose tombstone
    (stamped at statement time) always wins."""
    lh.sql(
        "CREATE TABLE t AS SELECT 'a' AS key, "
        "timestamp'2024-06-01' AS event_time, 5.0 AS value"
    )
    lh.sql(
        "MERGE INTO t USING SELECT 'a' AS key, "
        "timestamp'2024-01-01' AS event_time, 0.0 AS value ON key "
        "WHEN MATCHED THEN UPDATE SET value = 999.0"
    )
    [row] = lh.sql("SELECT key, value, event_time FROM t").collect()
    assert row["value"] == 5.0  # stale source: merge precedence no-op
    assert row["event_time"].isoformat().startswith("2024-06-01")
    # …while a DELETE clause on the same stale source still wins
    lh.sql(
        "MERGE INTO t USING SELECT 'a' AS key, "
        "timestamp'2024-01-01' AS event_time, 0.0 AS value ON key "
        "WHEN MATCHED THEN DELETE"
    )
    assert lh.sql("SELECT key FROM t").count() == 0


def test_merge_by_source_update_end_to_end(spark, lh):
    """Round 9: WHEN NOT MATCHED BY SOURCE THEN UPDATE SET — unmatched
    target keys get the assignment expressions applied to their current
    row, committed AT the statement timestamp (always wins, like the
    UPDATE statement), first-match-wins across the BY SOURCE clause
    list, all in the same single-version commit as the matched clauses
    and inserts."""
    import datetime as dt

    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(6)
        """
    )
    v1 = int(lh.table("t").current_version())
    at = dt.datetime(2024, 5, 1, tzinfo=dt.timezone.utc)
    # source matches keys 0,1 (and brings unmatched key 9);
    # unmatched targets 2..5: value<3 → tombstoned; rest → value+100
    [st] = lh.sql(
        "MERGE INTO t USING "
        "SELECT CAST(k AS STRING) AS key, timestamp'2024-02-01' AS "
        "event_time, CAST(v AS DOUBLE) AS value "
        "FROM (VALUES (0, 50.0), (1, 51.0), (9, 90.0)) AS s(k, v) "
        "ON key "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND value < 3 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET value = value + 100",
        dml_at=at,
    ).collect()
    assert st["operation"] == "merge_multi"
    assert int(st["version"]) == v1 + 1  # ONE commit for everything
    got = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    }
    # 0,1 matched-upserted; 2 (value 2<3) deleted; 3,4,5 updated +100;
    # 9 inserted
    assert got == {
        "0": 50.0, "1": 51.0, "3": 103.0, "4": 104.0, "5": 105.0,
        "9": 90.0,
    }
    # by-source-updated rows carry the STATEMENT timestamp
    ts = {
        r["key"]: r["event_time"].isoformat()
        for r in lh.sql("SELECT key, event_time FROM t").collect()
    }
    assert ts["3"].startswith("2024-05-01")
    assert ts["0"].startswith("2024-02-01")  # matched: source instant
    # time travel: pre-merge state intact, delete visible before it
    old = {
        r["key"]: r["value"]
        for r in lh.sql(
            f"SELECT key, value FROM t FOR VERSION AS OF {v1}"
        ).collect()
    }
    assert old == {str(i): float(i) for i in range(6)}


def _delta_starts(lh, table):
    """{delta file: start} over the whole segment tree of Current."""
    out = {}
    segs = list(lh.table(table).get_current_snapshot().segments)
    while segs:
        seg = segs.pop()
        segs.extend(seg.segments)
        out.update((d.file, d.start) for d in seg.delta)
    return out


def test_dml_at_stamps_every_statement(spark, lh):
    """``dml_at`` is the statement instant of every DML that stamps
    'now': the delta each statement commits starts at it, whichever
    MERGE shape, DELETE FROM or UPDATE wrote it."""
    import datetime as dt

    lh.sql(
        """
        CREATE TABLE t AS
        SELECT CAST(id AS STRING) AS key,
               timestamp'2024-01-01 00:00:00' AS event_time,
               CAST(id AS DOUBLE) AS value
          FROM range(8)
        """
    )
    at = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    statements = [
        "MERGE INTO t USING SELECT '0' AS key ON key "
        "WHEN MATCHED THEN DELETE",
        # every source key matches: the INSERT * clause adds no row
        "MERGE INTO t USING SELECT key, event_time, value FROM t "
        "WHERE key = '1' ON key "
        "WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT *",
        "DELETE FROM t WHERE key = '2'",
        "UPDATE t SET value = value + 1 WHERE key = '3'",
    ]
    for stmt in statements:
        before = _delta_starts(lh, "t")
        lh.sql(stmt, dml_at=at)
        new = {
            f: s for f, s in _delta_starts(lh, "t").items() if f not in before
        }
        assert new and set(new.values()) == {at}, (stmt, new)
