"""DuckDB interop (bazof_spark/interop.duckdb_view_sql): the emitted
standalone SQL must reproduce the as-of merge bit-for-bit — a THIRD
independent implementation of the semantics, pinned against
``Lakehouse.scan`` on the reference's own goldens (including the
financials intra-file duplicate decided by the first-row tie-break),
on delete-capable tables around the tombstone instant, on renamed
columns, and on pinned versions."""

import os
import sys
from datetime import datetime, timezone

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark import Lakehouse  # noqa: E402
from bazof_spark.interop import duckdb_view_sql  # noqa: E402



def _duck(sql):
    rows = duckdb.sql(sql).fetchall()
    return sorted(
        tuple(
            v.replace(tzinfo=None) if isinstance(v, datetime) else v
            for v in r
        )
        for r in rows
    )


def _spark_rows(df):
    return sorted(
        tuple(
            v.replace(tzinfo=None) if isinstance(v, datetime) else v
            for v in r
        )
        for r in df.collect()
    )


@pytest.mark.parametrize(
    "table,as_of",
    [
        ("table0", None),
        ("table0", "2024-02-17T00:00:00.000Z"),
        ("table2", None),
        ("financials", None),
        # the 2019-01-17 instant exercises the intra-file duplicate
        # whose winner is the first physical row (file_row_number)
        ("financials", "2019-01-17T00:00:00.000Z"),
        ("financials", "2020-06-01T00:00:00.000Z"),
    ],
)
def test_reference_goldens_match_scan(spark, reference_data, table, as_of):
    lh = Lakehouse(spark, reference_data)
    want = _spark_rows(lh.scan(table, as_of=as_of))
    got = _duck(
        duckdb_view_sql(os.path.join(reference_data, table), as_of=as_of)
    )
    assert got == want
    assert want  # non-vacuous


def test_tombstones_hide_and_resurrect(spark, tmp_path):
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter, append_delta, delete_keys

    t1 = datetime(2024, 5, 1, tzinfo=timezone.utc)
    t2 = datetime(2024, 6, 1, tzinfo=timezone.utc)
    t3 = datetime(2024, 7, 1, tzinfo=timezone.utc)
    path = str(tmp_path / "t")
    w = TableWriter(
        spark, path,
        TableSchema((ColumnDef("v", ColumnType.INT, False),)),
    )
    seg = w.add_segment("s1", t1)
    seg.add_delta(
        spark.createDataFrame(
            [("a", t1, 1), ("b", t1, 2)],
            "key string, event_time timestamp, v long",
        ),
        t1, t1,
    )
    w.commit()
    delete_keys(spark, path, ["a"], at=t2)
    append_delta(
        spark, path,
        spark.createDataFrame(
            [("a", t3, 11)], "key string, event_time timestamp, v long"
        ),
    )
    lh = Lakehouse(spark, str(tmp_path))
    for as_of in (t1, t2, t3, None):
        arg = (
            as_of.strftime("%Y-%m-%dT%H:%M:%S.000Z") if as_of else None
        )
        want = _spark_rows(lh.scan("t", as_of=arg))
        got = _duck(duckdb_view_sql(path, as_of=arg))
        assert got == want, as_of
    # deleted at t2, resurrected at t3 — both engines agree on the arc
    assert {r[0] for r in _duck(duckdb_view_sql(path, as_of="2024-06-01T00:00:00.000Z"))} == {"b"}
    assert {r[0] for r in _duck(duckdb_view_sql(path))} == {"a", "b"}


def test_version_pin_and_projection(spark, tmp_path):
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter, append_delta

    t1 = datetime(2024, 5, 1, tzinfo=timezone.utc)
    t2 = datetime(2024, 6, 1, tzinfo=timezone.utc)
    path = str(tmp_path / "t")
    w = TableWriter(
        spark, path,
        TableSchema(
            (
                ColumnDef("v", ColumnType.INT, False),
                ColumnDef("s", ColumnType.STRING, False),
            )
        ),
    )
    seg = w.add_segment("s1", t1)
    seg.add_delta(
        spark.createDataFrame(
            [("a", t1, 1, "x")],
            "key string, event_time timestamp, v long, s string",
        ),
        t1, t1,
    )
    w.commit()
    append_delta(
        spark, path,
        spark.createDataFrame(
            [("a", t2, 2, "y")],
            "key string, event_time timestamp, v long, s string",
        ),
    )
    got_v1 = _duck(duckdb_view_sql(path, version="1"))
    got_v2 = _duck(duckdb_view_sql(path, version="2"))
    assert got_v1[0][2] == 1 and got_v2[0][2] == 2
    proj = duckdb.sql(
        duckdb_view_sql(path, columns=["s"])
    ).fetchall()
    assert [tuple(r)[2:] for r in proj] == [("y",)]


def test_renamed_column_coalesces(spark, tmp_path):
    """Files written before a RENAME store the former spelling; the
    emitted SQL coalesces declared-then-former names over
    union_by_name, matching scan_snapshot."""
    from bazof_spark.maintenance import evolve_table_schema
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter, append_delta

    t1 = datetime(2024, 5, 1, tzinfo=timezone.utc)
    t2 = datetime(2024, 6, 1, tzinfo=timezone.utc)
    path = str(tmp_path / "t")
    w = TableWriter(
        spark, path,
        TableSchema((ColumnDef("old_name", ColumnType.INT, False),)),
    )
    seg = w.add_segment("s1", t1)
    seg.add_delta(
        spark.createDataFrame(
            [("a", t1, 7)],
            "key string, event_time timestamp, old_name long",
        ),
        t1, t1,
    )
    w.commit()
    lh = Lakehouse(spark, str(tmp_path))
    evolve_table_schema(lh, "t", rename={"old_name": "new_name"})
    append_delta(
        spark, path,
        spark.createDataFrame(
            [("b", t2, 8)],
            "key string, event_time timestamp, new_name long",
        ),
    )
    want = _spark_rows(lh.scan("t"))
    got = _duck(duckdb_view_sql(path))
    assert got == want
    assert {r[2] for r in got} == {7, 8}


def test_empty_as_of_returns_empty_typed(spark, reference_data):
    sql = duckdb_view_sql(
        os.path.join(reference_data, "table0"), as_of="2000-01-01T00:00:00.000Z"
    )
    assert duckdb.sql(sql).fetchall() == []


def test_changes_sql_matches_scan_changes(spark, tmp_path):
    """duckdb_changes_sql row-identical to Lakehouse.scan_changes on a
    history with updates, a delete, and a re-insert (the acct shape),
    across both windows."""
    from bazof_spark.interop import duckdb_changes_sql
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter, delete_keys, merge_apply

    t1 = datetime(2024, 5, 1, tzinfo=timezone.utc)
    t2 = datetime(2024, 6, 1, tzinfo=timezone.utc)
    t3 = datetime(2024, 7, 1, tzinfo=timezone.utc)
    path = str(tmp_path / "t")
    w = TableWriter(
        spark, path,
        TableSchema((ColumnDef("v", ColumnType.INT, False),)),
    )
    seg = w.add_segment("s1", t1)
    seg.add_delta(
        spark.createDataFrame(
            [("a", t1, 1), ("b", t1, 2), ("c", t1, 3)],
            "key string, event_time timestamp, v long",
        ),
        t1, t1,
    )
    w.commit()
    merge_apply(
        spark, path,
        upsert_df=spark.createDataFrame(
            [("a", t2, 10)], "key string, event_time timestamp, v long"
        ),
        delete_keys_df=spark.createDataFrame([("b",)], "key string"),
        at=t2,
    )
    merge_apply(
        spark, path,
        upsert_df=spark.createDataFrame(
            [("b", t3, 20), ("d", t3, 4)],
            "key string, event_time timestamp, v long",
        ),
        at=t3,
    )
    lh = Lakehouse(spark, str(tmp_path))
    windows = [
        (t1.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
         t2.strftime("%Y-%m-%dT%H:%M:%S.000Z")),
        (t2.strftime("%Y-%m-%dT%H:%M:%S.000Z"), None),
    ]
    for since, until in windows:
        want = _spark_rows(lh.scan_changes("t", since=since, until=until))
        got = _duck(duckdb_changes_sql(path, since, until))
        assert got == want, (since, until)
        assert want  # non-vacuous: every window has changes


def test_changes_sql_append_only_reference_table(spark, reference_data):
    """Append-only financials (no tombstones): the feed is pure
    inserts/updates; both engines agree on a real multi-version
    history window."""
    from bazof_spark.interop import duckdb_changes_sql

    lh = Lakehouse(spark, reference_data)
    since, until = (
        "2019-01-17T00:00:00.000Z",
        "2020-06-01T00:00:00.000Z",
    )
    want = _spark_rows(
        lh.scan_changes("financials", since=since, until=until)
    )
    got = _duck(
        duckdb_changes_sql(os.path.join(reference_data, "financials"), since, until)
    )
    assert got == want
    assert want


def test_emulated_object_store_root_resolves_to_mirror(
    spark, tmp_path, monkeypatch
):
    """An emulated s3 root's view SQL resolves file paths through the
    iofs mirror, so DuckDB reads the same bytes the Data Source scan
    serves — interop covers object-store tables too (a REAL object
    store would use DuckDB httpfs with rewritten s3:// paths; raising
    on non-emulated URIs is pinned)."""
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter

    monkeypatch.setenv("BAZOF_FS_EMULATE", "s3")
    monkeypatch.setenv("BAZOF_FS_EMULATE_ROOT", str(tmp_path / "mirror"))
    t1 = datetime(2024, 5, 1, tzinfo=timezone.utc)
    root = "s3://ibkt"
    w = TableWriter(
        spark, f"{root}/t",
        TableSchema((ColumnDef("v", ColumnType.INT, False),)),
    )
    seg = w.add_segment("s1", t1)
    seg.add_delta(
        spark.createDataFrame(
            [("a", t1, 1), ("b", t1, 2)],
            "key string, event_time timestamp, v long",
        ),
        t1, t1,
    )
    w.commit()
    got = _duck(duckdb_view_sql(f"{root}/t"))
    assert [(r[0], r[2]) for r in got] == [("a", 1), ("b", 2)]

    # non-emulated object-store URIs refuse with the httpfs pointer
    # (probed directly: with emulation off the metadata read itself
    # fails first on this connector-less box)
    from bazof_spark.interop import _duck_path

    monkeypatch.delenv("BAZOF_FS_EMULATE")
    with pytest.raises(ValueError, match="httpfs"):
        _duck_path("s3://real-bucket/t/base.parquet")


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_KEYS = ["k%d" % i for i in range(6)]
_VERSION = st.tuples(
    st.dictionaries(
        st.sampled_from(_KEYS), st.integers(0, 99), max_size=4
    ),
    st.sets(st.sampled_from(_KEYS), max_size=2),
).filter(lambda t: t[0] or t[1])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_VERSION, min_size=1, max_size=4))
def test_property_random_history_matches_scan(spark, tmp_path_factory, versions):
    """Generative cross-engine merge check: a random multi-version
    history of upserts and deletes must read identically through
    Lakehouse.scan and the emitted DuckDB SQL at EVERY version
    boundary instant and at Current."""
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter, merge_apply

    base = tmp_path_factory.mktemp("prop")
    path = str(base / "t")
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def at(i):
        return datetime(2024, 1, 1 + i, tzinfo=timezone.utc)

    ups0, dels0 = versions[0]
    w = TableWriter(
        spark, path,
        TableSchema((ColumnDef("v", ColumnType.INT, False),)),
    )
    seg = w.add_segment("s1", t0)
    first = ups0 or {"seedkey": 0}
    seg.add_delta(
        spark.createDataFrame(
            [(k, t0, v) for k, v in sorted(first.items())],
            "key string, event_time timestamp, v long",
        ),
        t0, t0,
    )
    w.commit()
    for i, (ups, dels) in enumerate(versions[1:], start=1):
        ups_df = (
            spark.createDataFrame(
                [(k, at(i), v) for k, v in sorted(ups.items())],
                "key string, event_time timestamp, v long",
            )
            if ups
            else None
        )
        dels_df = (
            spark.createDataFrame(
                [(k,) for k in sorted(dels - set(ups))], "key string"
            )
            if dels - set(ups)
            else None
        )
        if ups_df is None and dels_df is None:
            continue
        merge_apply(spark, path, upsert_df=ups_df,
                    delete_keys_df=dels_df, at=at(i))
    lh = Lakehouse(spark, str(base))
    instants = [
        at(i).strftime("%Y-%m-%dT%H:%M:%S.000Z")
        for i in range(len(versions))
    ] + [None]
    for as_of in instants:
        want = _spark_rows(lh.scan("t", as_of=as_of))
        got = _duck(duckdb_view_sql(path, as_of=as_of))
        assert got == want, as_of
