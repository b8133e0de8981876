"""End-to-end scan tests against the reference's own shipped test-data
(read-only), with golden expectations ported from
crates/azof/src/lakehouse.rs:120-433 (see FIXTURES.md). Results compared
order-insensitively (sorted by key) exactly like the reference
(lakehouse.rs:398-414)."""

from datetime import datetime, timezone

import pytest

from bazof_spark.lakehouse import Lakehouse


@pytest.fixture(scope="module")
def lh(spark, reference_data):
    return Lakehouse(spark, reference_data)


def rows(df, *cols):
    out = df.select(*cols) if cols else df
    return sorted([tuple(r) for r in out.collect()])


def ts(y, m, d):
    return datetime(y, m, d, tzinfo=timezone.utc)


def test_scan_table0_current(lh):
    """lakehouse.rs:135-147 — base + one delta, Current."""
    got = rows(lh.scan("table0"), "key", "value")
    assert got == [("1", "abc2"), ("2", "xyz2"), ("3", "www2")]


def test_scan_table0_as_of(lh):
    """lakehouse.rs:149-157 — as-of 2024-02-17: key 3 absent, key 2's
    02-20 update too new."""
    got = rows(lh.scan("table0", as_of=ts(2024, 2, 17)), "key", "value")
    assert got == [("1", "abc2"), ("2", "xyz")]


def test_scan_table1_no_base_multiple_updates(lh):
    """lakehouse.rs:161-189 — no base file, two deltas, multiple updates
    per key."""
    assert rows(lh.scan("table1"), "key", "value") == [("1", "abc4"), ("2", "xyz3")]
    assert rows(lh.scan("table1", as_of=ts(2024, 6, 1)), "key", "value") == [
        ("1", "abc3"),
        ("2", "xyz2"),
    ]
    assert rows(lh.scan("table1", as_of=ts(2024, 2, 1)), "key", "value") == [
        ("1", "abc2")
    ]


def test_scan_table2_multi_column(lh):
    """lakehouse.rs:191-231 — all four column types."""
    got = rows(
        lh.scan("table2"), "key", "value1", "value2", "is_active", "created"
    )
    assert got == [
        ("1", "abc2", 100, True, ts(2024, 1, 1).replace(tzinfo=None)),
        ("2", "xyz2", 222, False, ts(2024, 1, 1).replace(tzinfo=None)),
        ("3", "www2", 300, False, ts(2024, 3, 1).replace(tzinfo=None)),
    ]


def test_scan_table2_as_of(lh):
    got = rows(
        lh.scan("table2", as_of=ts(2024, 2, 17)), "key", "value1", "value2"
    )
    assert got == [("1", "abc2", 100), ("2", "xyz", 200)]


def test_scan_table2_projections(lh):
    """lakehouse.rs:233-369 — projection cases; output order is key,
    event_time, then schema-order values (schema.rs:148-171)."""
    df = lh.scan("table2", columns=["key", "event_time", "value1"])
    assert df.columns == ["key", "event_time", "value1"]
    assert rows(df, "key", "value1") == [("1", "abc2"), ("2", "xyz2"), ("3", "www2")]

    df = lh.scan("table2", columns=["key"])
    assert df.columns == ["key"]
    assert rows(df) == [("1",), ("2",), ("3",)]

    df = lh.scan("table2", columns=["event_time"])
    assert df.columns == ["event_time"]
    got = sorted(r[0] for r in df.collect())
    # epoch-ms [1706745600000, 1708387200000, 1710028800000]
    assert [int(t.replace(tzinfo=timezone.utc).timestamp() * 1000) for t in got] == [
        1706745600000,
        1708387200000,
        1710028800000,
    ]

    df = lh.scan("table2", columns=["event_time", "is_active", "created"])
    assert df.columns == ["event_time", "is_active", "created"]

    df = lh.scan("table2", columns=["value1"])
    assert df.columns == ["value1"]
    assert rows(df) == [("abc2",), ("www2",), ("xyz2",)]

    # projecting value columns out of order still yields schema order
    df = lh.scan("table2", columns=["value2", "value1", "key"])
    assert df.columns == ["key", "value1", "value2"]


def test_scan_financials_as_of(lh):
    """Smoke over the realistic 171-file nested tree: row count matches
    the number of distinct keys visible at the instant."""
    df = lh.scan("financials", as_of=ts(2019, 1, 17))
    n = df.count()
    assert n > 15000  # year_2019 base has ~15-23k keys
    assert df.select("key").distinct().count() == n


def test_scan_empty_for_early_as_of(lh):
    df = lh.scan("table0", as_of=ts(2023, 1, 1))
    assert df.count() == 0
    assert df.columns == ["key", "event_time", "value"]


def test_intra_file_duplicate_tiebreak_matches_reference(lh):
    """The reference's own year_2019_q2_delta ships 5 keys with TWO
    different rows at the same event_time; the reference's merge keeps
    the physically-first row (lakehouse.rs:54-79). Our _metadata.row_index
    tie-break must reproduce those exact winners."""
    got = {
        r["key"]: r["revenue"]
        for r in lh.scan("financials", as_of="2019-06-15T00:00:00.000Z")
        .filter("key in ('YUEIY','VIBVY','VLOWY','TNISY','GGDVY')")
        .select("key", "revenue")
        .collect()
    }
    assert got == {
        "GGDVY": 915507667,
        "TNISY": 1469666667,
        "VIBVY": 25496045,
        "VLOWY": 1224858757,
        "YUEIY": 5070727000,
    }


def test_scan_changes_classifies_insert_update_unchanged(spark, tmp_path):
    """scan_changes: key 1 updated, key 3 inserted, key 2 unchanged
    (absent from output) between the two instants."""
    from datetime import datetime, timezone

    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter
    from bazof_spark.lakehouse import Lakehouse

    def ts(y, m, d):
        return datetime(y, m, d, tzinfo=timezone.utc)

    schema = TableSchema((ColumnDef("value", ColumnType.STRING, False),))
    w = TableWriter(spark, str(tmp_path / "t"), schema)
    seg = w.add_segment(
        "10",
        ts(2024, 1, 1),
        base_df=spark.createDataFrame(
            [("1", ts(2024, 1, 1), "a1"), ("2", ts(2024, 1, 1), "b1")],
            schema.to_struct_type(),
        ),
    )
    seg.add_delta(
        spark.createDataFrame(
            [("1", ts(2024, 2, 1), "a2"), ("3", ts(2024, 2, 5), "c1")],
            schema.to_struct_type(),
        ),
        start=ts(2024, 2, 1),
        end=ts(2024, 2, 28),
    )
    w.commit()

    lh = Lakehouse(spark, str(tmp_path))
    changes = lh.scan_changes("t", since=ts(2024, 1, 15), until=ts(2024, 2, 15))
    got = {
        r["key"]: (r["change_type"], r["value_early"], r["value_late"])
        for r in changes.collect()
    }
    assert got == {
        "1": ("update", "a1", "a2"),
        "3": ("insert", None, "c1"),
    }

    # until=None → Current; since at the very start sees the base only
    cur = lh.scan_changes("t", since=ts(2024, 1, 1))
    assert {r["key"] for r in cur.collect()} == {"1", "3"}


def test_scan_changes_accepts_projection_instance(spark, tmp_path):
    """A Projection lacking key/event_time must be enriched exactly like
    the plain-iterable branch (ADVICE r1, lakehouse.py scan_changes)."""
    from datetime import datetime, timezone

    from bazof_spark.lakehouse import Lakehouse
    from bazof_spark.projection import Projection
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter

    def ts(y, m, d):
        return datetime(y, m, d, tzinfo=timezone.utc)

    schema = TableSchema((ColumnDef("value", ColumnType.STRING, False),))
    w = TableWriter(spark, str(tmp_path / "t"), schema)
    seg = w.add_segment(
        "10",
        ts(2024, 1, 1),
        base_df=spark.createDataFrame(
            [("1", ts(2024, 1, 1), "a1")], schema.to_struct_type()
        ),
    )
    seg.add_delta(
        spark.createDataFrame(
            [("1", ts(2024, 2, 1), "a2")], schema.to_struct_type()
        ),
        start=ts(2024, 2, 1),
        end=ts(2024, 2, 28),
    )
    w.commit()
    lh = Lakehouse(spark, str(tmp_path))
    changes = lh.scan_changes(
        "t",
        since=ts(2024, 1, 15),
        until=ts(2024, 2, 15),
        columns=Projection.of({"value"}),  # no key/event_time on purpose
    )
    got = {
        r["key"]: (r["change_type"], r["value_early"], r["value_late"])
        for r in changes.collect()
    }
    assert got == {"1": ("update", "a1", "a2")}


def test_rank_broadcast_join_path_matches_literal_path(spark, tmp_path):
    """Force the >threshold broadcast-join rank attachment and check it
    produces the same merge result as the literal-map path; a file URI
    missing from the rank map must raise, not silently drop rows
    (ADVICE r1, lakehouse.py _with_rank scale path)."""
    from datetime import datetime, timezone

    import pytest as _pytest

    import bazof_spark.lakehouse as lh_mod
    from bazof_spark.lakehouse import Lakehouse
    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter

    def ts(y, m, d):
        return datetime(y, m, d, tzinfo=timezone.utc)

    schema = TableSchema((ColumnDef("value", ColumnType.STRING, False),))
    w = TableWriter(spark, str(tmp_path / "t"), schema)
    seg = w.add_segment(
        "10",
        ts(2024, 1, 1),
        base_df=spark.createDataFrame(
            [("1", ts(2024, 1, 1), "a1"), ("2", ts(2024, 1, 2), "b1")],
            schema.to_struct_type(),
        ),
    )
    seg.add_delta(
        spark.createDataFrame(
            [("1", ts(2024, 2, 1), "a2")], schema.to_struct_type()
        ),
        start=ts(2024, 2, 1),
        end=ts(2024, 2, 28),
    )
    w.commit()
    lh = Lakehouse(spark, str(tmp_path))
    literal = sorted(tuple(r) for r in lh.scan("t").collect())

    orig = lh_mod._RANK_MAP_LITERAL_MAX
    lh_mod._RANK_MAP_LITERAL_MAX = 0
    try:
        scale = sorted(tuple(r) for r in lh.scan("t").collect())
        assert scale == literal

        # fail-fast: rank map that misses the scanned files
        table = lh.table("t")
        snapshot = table.get_current_snapshot()
        df = spark.read.schema(snapshot.schema.to_struct_type()).parquet(
            *[table.data_file_path(f) for f in snapshot.get_data_files()]
        )
        bogus = [("not/a/real/file.parquet", 0), ("also/fake.parquet", 1)]
        with _pytest.raises(Exception, match="no precedence rank"):
            lh._with_rank(
                df, [(table.data_file_path(f), r, False) for f, r in bogus]
            ).collect()
    finally:
        lh_mod._RANK_MAP_LITERAL_MAX = orig
