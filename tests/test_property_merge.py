"""Property-based check of the as-of merge encoding.

The reference's semantics (crates/azof/src/lakehouse.rs:40-79): walk
files in pruning order; within a file rows are event_time DESC; the
first occurrence of a key with event_time <= t wins. Our Spark encoding
is `max_by(payload, struct(-rank, event_time))` after the as-of filter.
This test generates random upsert histories (random keys, timestamps,
deltas, optional nested child segment), writes a real table with
TableWriter, and compares the Spark scan against a direct row-by-row
Python interpretation of the spec at several as-of instants —
the beyond-reference §5 upgrade (the reference has no property tests).
"""

from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from bazof_spark.asof import Current, EventTime
from bazof_spark.lakehouse import Lakehouse
from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
from bazof_spark.writer import TableWriter

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

SCHEMA = TableSchema((ColumnDef("value", ColumnType.STRING, False),))

# a delta: list of (key, hour-offset, value) with unique (key, offset)
_row = st.tuples(
    st.sampled_from(["k1", "k2", "k3", "k4"]),
    st.integers(min_value=0, max_value=200),
    st.text(alphabet="abcxyz", min_size=1, max_size=4),
)


def _dedup_rows(rows):
    seen, out = set(), []
    for k, off, v in rows:
        if (k, off) not in seen:
            seen.add((k, off))
            out.append((k, off, v))
    return out


_delta = st.lists(_row, min_size=1, max_size=6).map(_dedup_rows)

history = st.fixed_dictionaries(
    {
        "base": st.none() | _delta,
        "deltas": st.lists(
            st.tuples(
                _delta,
                st.integers(min_value=0, max_value=150),  # delta start offset
            ),
            min_size=0,
            max_size=3,
        ),
        "child": st.none()
        | st.fixed_dictionaries(
            {
                "start": st.integers(min_value=20, max_value=120),
                "base": _delta,
            }
        ),
        "asof_offsets": st.lists(
            st.integers(min_value=0, max_value=260), min_size=2, max_size=4
        ),
    }
)


def _ts(hours):
    return T0 + timedelta(hours=hours)


def _delta_named(seg, prefix):
    """The one delta file of ``seg`` whose name starts with ``prefix``
    (commit-written names end in a per-commit random token)."""
    (name,) = [d.file for d in seg.delta if d.file.startswith(prefix)]
    return name


def _python_merge(ranked_rows, t):
    """Direct spec interpretation: files in rank order, rows event_time
    DESC inside each; first eligible occurrence of a key wins."""
    winners = {}
    for _rank, rows in ranked_rows:
        for k, off, v in sorted(rows, key=lambda r: -r[1]):
            if t is not None and off > t:
                continue
            if k not in winners:
                winners[k] = (off, v)
    return {k: v for k, (off, v) in winners.items()}


upsert_history = st.fixed_dictionaries(
    {
        "base": _delta,
        "batches": st.lists(_delta, min_size=1, max_size=3),
        "asof_offsets": st.lists(
            st.integers(min_value=0, max_value=260), min_size=1, max_size=2
        ),
    }
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(h=upsert_history)
def test_sequential_upserts_match_spec(spark, tmp_path_factory, h):
    """Random sequences of append_delta batches produce reads that match
    the reference merge spec (same python model as the writer test):
    the upsert path must compose with pruning precedence — newer-start
    deltas shadow older, equal starts resolve by append order."""
    tmp = tmp_path_factory.mktemp("prop_up")
    w = TableWriter(spark, str(tmp / "t"), SCHEMA)

    def df(rows):
        return spark.createDataFrame(
            [(k, _ts(off), v) for k, off, v in rows], SCHEMA.to_struct_type()
        )

    w.add_segment("s1", _ts(0), base_df=df(h["base"]))
    w.commit()
    lh = Lakehouse(spark, str(tmp))
    for rows in h["batches"]:
        lh.upsert("t", df(rows))

    snapshot = lh.table("t").get_current_snapshot()
    seg = snapshot.segments[-1]
    # file NAMES are sequential per batch (s1_delta{i+1}_{token}); the
    # ARRAY order is precedence order (a later equal-or-newer-start
    # commit is placed ahead so it shadows — writer._insert_deltas), so
    # map rows by name, not position
    file_rows = {"s1_base.parquet": h["base"]}
    for i, rows in enumerate(h["batches"]):
        file_rows[_delta_named(seg, f"s1_delta{i + 1}_")] = rows
    assert {d.file for d in seg.delta} == set(file_rows) - {"s1_base.parquet"}

    for t_off in [None, *h["asof_offsets"]]:
        as_of = None if t_off is None else _ts(t_off)
        ranked = snapshot.ranked_data_files(
            Current if as_of is None else EventTime(as_of)
        )
        expected = _python_merge(
            [(r, file_rows[f]) for f, r in ranked], t_off
        )
        got = {
            r["key"]: r["value"]
            for r in lh.scan("t", as_of=as_of).collect()
        }
        assert got == expected, f"as_of offset {t_off}"


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(h=history)
def test_scan_matches_spec(spark, tmp_path_factory, h):
    tmp = tmp_path_factory.mktemp("prop")
    w = TableWriter(spark, str(tmp / "t"), SCHEMA)

    def df(rows):
        return spark.createDataFrame(
            [(k, _ts(off), v) for k, off, v in rows], SCHEMA.to_struct_type()
        )

    seg = w.add_segment(
        "s1", _ts(0), base_df=df(h["base"]) if h["base"] else None
    )
    for i, (rows, start_off) in enumerate(h["deltas"]):
        seg.add_delta(
            df(rows), start=_ts(start_off), end=_ts(start_off + 10)
        )
    if h["child"]:
        seg.add_child(
            "c1", _ts(h["child"]["start"]), base_df=df(h["child"]["base"])
        )
    snapshot = w.commit()
    lh = Lakehouse(spark, str(tmp))

    # reconstruct (rank → python rows) from the snapshot's own pruning
    def rows_for(fname):
        if h["base"] and fname == "s1_base.parquet":
            return h["base"]
        if h["child"] and fname == "c1_base.parquet":
            return h["child"]["base"]
        for i, (rows, _s) in enumerate(h["deltas"]):
            if fname == f"s1_delta{i + 1}.parquet":
                return rows
        raise AssertionError(fname)

    for t_off in [None, *h["asof_offsets"]]:
        as_of = None if t_off is None else _ts(t_off)
        ranked = snapshot.ranked_data_files(
            Current if as_of is None else EventTime(as_of)
        )
        expected = _python_merge(
            [(r, rows_for(f)) for f, r in ranked], t_off
        )
        got = {
            r["key"]: r["value"]
            for r in lh.scan("t", as_of=as_of).collect()
        }
        assert got == expected, f"as_of offset {t_off}"


_TOMB = object()  # model marker: a tombstone row

mixed_history = st.fixed_dictionaries(
    {
        "base": _delta,
        "batches": st.lists(
            st.one_of(
                st.tuples(st.just("upsert"), _delta),
                st.tuples(
                    st.just("delete"),
                    st.tuples(
                        st.lists(
                            st.sampled_from(["k1", "k2", "k3", "k4"]),
                            min_size=1,
                            max_size=3,
                            unique=True,
                        ),
                        st.integers(min_value=0, max_value=200),
                    ),
                ),
            ),
            min_size=1,
            max_size=4,
        ),
        "asof_offsets": st.lists(
            st.integers(min_value=0, max_value=260), min_size=2, max_size=3
        ),
    }
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(h=mixed_history)
def test_interleaved_upserts_and_deletes_match_spec(
    spark, tmp_path_factory, h
):
    """Random interleavings of upsert batches and tombstone deletes:
    the scan must equal the SAME reference merge spec with one added
    rule — a winning tombstone row hides its key. Deletes are ordinary
    deltas (precedence by start, file order on ties), so time travel,
    shadowing, and resurrection all fall out of the model for free."""
    tmp = tmp_path_factory.mktemp("prop_del")
    lh, spec = _mixed_table(spark, str(tmp), h)
    for t_off in [None, *h["asof_offsets"]]:
        as_of = None if t_off is None else _ts(t_off)
        got = {
            r["key"]: r["value"]
            for r in lh.scan("t", as_of=as_of).collect()
        }
        assert got == spec(t_off), f"as_of offset {t_off}"


def _mixed_table(spark, root, h):
    """Table ``t`` under ``root`` built from a ``mixed_history`` draw, and
    the spec model: ``spec(t_off)`` = {key: value} visible at that
    offset (None = Current) — the reference merge with one added rule,
    a winning tombstone row hides its key."""
    from bazof_spark.writer import delete_keys

    w = TableWriter(spark, f"{root}/t", SCHEMA)

    def df(rows):
        return spark.createDataFrame(
            [(k, _ts(off), v) for k, off, v in rows], SCHEMA.to_struct_type()
        )

    w.add_segment("s1", _ts(0), base_df=df(h["base"]))
    w.commit()
    lh = Lakehouse(spark, root)
    prefix_rows = {}
    for i, (kind, payload) in enumerate(h["batches"]):
        prefix = f"s1_delta{i + 1}_"
        if kind == "upsert":
            lh.upsert("t", df(payload))
            prefix_rows[prefix] = list(payload)
        else:
            keys, off = payload
            delete_keys(spark, f"{root}/t", keys, at=_ts(off))
            prefix_rows[prefix] = [(k, off, _TOMB) for k in sorted(keys)]

    snapshot = lh.table("t").get_current_snapshot()
    seg = snapshot.segments[-1]
    file_rows = {"s1_base.parquet": list(h["base"])}
    for prefix, rows in prefix_rows.items():
        file_rows[_delta_named(seg, prefix)] = rows
    assert {d.file for d in seg.delta} == set(file_rows) - {"s1_base.parquet"}

    def spec(t_off):
        ranked = snapshot.ranked_data_files(
            Current if t_off is None else EventTime(_ts(t_off))
        )
        winners = _python_merge(
            [(r, file_rows[f]) for f, r in ranked], t_off
        )
        return {k: v for k, v in winners.items() if v is not _TOMB}

    return lh, spec


# --- keyed lookups: every read route against the spec ---------------------

BUCKET_ROOT = "s3://bk/lake"  # emulated: <tmp>/s3/bk/lake


def _lake(tmp):
    """Local root of a lake that ``BUCKET_ROOT`` also serves when the
    s3 scheme is emulated from ``tmp``."""
    return str(tmp / "s3" / "bk" / "lake")


def _keyed_routes(spark, tmp, keys, as_of, cols=("value",)):
    """{route: sorted (key, *cols) rows} of one keyed as-of lookup of
    table ``t`` through every read route: the driver read (local and
    object store), the local JVM scan and the object-store
    ``mapInArrow`` read (broadcast threshold -1 turns the driver read
    off), and the Python Data Source (``read_table``). Each route's
    plan is checked to be the route it names, unless no file can hold
    the keys (then every scan is the same empty local relation)."""
    from pyspark.sql import functions as F

    from bazof_spark.datasource import read_table
    from bazof_spark.plans import formatted_plan

    threshold = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(threshold)
    local, remote = Lakehouse(spark, _lake(tmp)), Lakehouse(spark, BUCKET_ROOT)
    out = {}

    def run(route, df, node):
        plan = formatted_plan(df)
        assert node in plan or "Arguments: <empty>" in plan, (route, plan)
        out[route] = sorted(tuple(r) for r in df.select("key", *cols).collect())

    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("BAZOF_FS_EMULATE", "s3")
        mp.setenv("BAZOF_FS_EMULATE_ROOT", str(tmp))
        try:
            for lh, where in ((local, "local"), (remote, "object store")):
                spark.conf.set(threshold, saved)
                run(f"driver, {where}",
                    lh.scan("t", as_of=as_of, keys=keys), "LocalTableScan")
                spark.conf.set(threshold, "-1")
                run(f"executors, {where}",
                    lh.scan("t", as_of=as_of, keys=keys),
                    "MapInArrow" if lh is remote else "Scan parquet")
        finally:
            spark.conf.set(threshold, saved)
    run("read_table",
        read_table(
            spark, _lake(tmp), "t",
            as_of=None if as_of is None else as_of.isoformat(),
        ).filter(F.col("key").isin(keys)),
        "BatchScan")
    return out


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    h=mixed_history,
    keys=st.lists(
        st.sampled_from(["k1", "k2", "k3", "k4"]), min_size=1, unique=True
    ),
)
def test_keyed_lookup_routes_match_spec(spark, tmp_path_factory, h, keys):
    """Keyed as-of lookups (plus the absent k9) over random upsert and
    tombstone histories: every read route returns the spec model's
    winners at Current and at each as-of — the guard that the driver's
    Arrow merge and the executor merges stay one semantics."""
    tmp = tmp_path_factory.mktemp("prop_routes")
    _, spec = _mixed_table(spark, _lake(tmp), h)
    lookup = [*keys, "k9"]
    for t_off in [None, *h["asof_offsets"]]:
        want = sorted((k, v) for k, v in spec(t_off).items() if k in keys)
        routes = _keyed_routes(
            spark, tmp, lookup, None if t_off is None else _ts(t_off)
        )
        for route, got in routes.items():
            assert got == want, (route, f"as_of offset {t_off}")


def test_keyed_lookup_above_the_bound_plans_no_byte_ranges(
    spark, tmp_path, monkeypatch, driver_reads
):
    """A keyed lookup on a local root whose files exceed the broadcast
    threshold picks the JVM scan from the plan's file sizes alone: with
    a file larger than maxPartitionBytes it still plans no byte range
    and reads no page index, and nothing is read on the driver. The
    result is the spec model's."""
    import bazof_spark.datasource as ds
    from bazof_spark.plans import formatted_plan

    lh, spec = _mixed_table(spark, str(tmp_path), {
        "base": [("k1", 1, "a"), ("k2", 1, "b"), ("k3", 2, "c")],
        "batches": [
            ("upsert", [("k1", 5, "a2"), ("k4", 5, "d")]),
            ("delete", (["k2"], 6)),
        ],
    })
    sizes = lh.table("t").get_current_snapshot().file_sizes().values()
    split = max(sizes) // 2
    calls = []
    for name in ("plan_byte_ranges", "_page_prune_spans"):
        def spy(*args, _name=name, _real=getattr(ds, name), **kwargs):
            calls.append(_name)
            return _real(*args, **kwargs)

        monkeypatch.setattr(ds, name, spy)
    saved = {
        c: spark.conf.get(c)
        for c in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.files.maxPartitionBytes",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(min(sizes) - 1))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    try:
        for t_off in (None, 3, 7):
            df = lh.scan(
                "t", as_of=None if t_off is None else _ts(t_off),
                keys=["k1", "k2", "k4"],
            )
            assert "Scan parquet" in formatted_plan(df)
            got = {r["key"]: r["value"] for r in df.collect()}
            want = {
                k: v for k, v in spec(t_off).items() if k in ("k1", "k2", "k4")
            }
            assert got == want, t_off
    finally:
        for c, v in saved.items():
            spark.conf.set(c, v)
    assert calls == []
    assert driver_reads == []


def _assert_routes(spark, tmp, keys, as_of, cols, want):
    for route, got in _keyed_routes(spark, tmp, keys, as_of, cols).items():
        assert got == want, route


def test_keyed_lookup_routes_read_former_and_added_columns(
    spark, tmp_path
):
    """Fixed cases the histories above cannot draw: a RENAMED column
    (files before the rename store the former name) and an ADDED
    column (files before the add lack it: null fill) — every route
    reads both spellings and fills the gap."""
    from bazof_spark.maintenance import evolve_table_schema

    w = TableWriter(spark, f"{_lake(tmp_path)}/t", SCHEMA)
    w.add_segment(
        "s1", _ts(0),
        base_df=spark.createDataFrame(
            [("k1", _ts(1), "a"), ("k2", _ts(1), "b")],
            SCHEMA.to_struct_type(),
        ),
    )
    w.commit()
    lh = Lakehouse(spark, _lake(tmp_path))
    evolve_table_schema(
        lh, "t", rename={"value": "label"},
        add=[ColumnDef("note", ColumnType.STRING, True)],
    )
    schema = lh.table("t").get_current_snapshot().schema
    lh.upsert("t", spark.createDataFrame(
        [("k2", _ts(5), "b2", "n2"), ("k3", _ts(5), "c", None)],
        schema.to_struct_type(),
    ))
    cols = ("label", "note")
    keys = ["k1", "k2", "k3", "k9"]
    _assert_routes(spark, tmp_path, keys, None, cols, [
        ("k1", "a", None), ("k2", "b2", "n2"), ("k3", "c", None),
    ])
    _assert_routes(spark, tmp_path, keys, _ts(2), cols, [
        ("k1", "a", None), ("k2", "b", None),
    ])


def test_keyed_lookup_routes_keep_first_duplicate_row(spark, tmp_path):
    """A duplicate (key, event_time) inside ONE file (the reference's
    financials data ships such pairs): every route keeps the first
    physical row, whatever the values' order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    w = TableWriter(spark, f"{_lake(tmp_path)}/t", SCHEMA)
    w.add_segment(
        "s1", _ts(0),
        base_df=spark.createDataFrame(
            [("k1", _ts(2), "x"), ("k1", _ts(1), "y"), ("k2", _ts(1), "z")],
            SCHEMA.to_struct_type(),
        ),
    )
    w.commit()
    # same keys and instants as the committed file (its recorded
    # bounds stay true), now with k1@2 twice: "zz-first" physically
    # first, "aa-second" after it
    base = f"{_lake(tmp_path)}/t/s1_base.parquet"
    stored = pq.read_table(base).schema
    pq.write_table(pa.table({
        "key": ["k1", "k1", "k2"],
        "event_time": pa.array([_ts(2), _ts(2), _ts(1)], stored.field("event_time").type),
        "value": ["zz-first", "aa-second", "z"],
    }, schema=stored), base)
    keys = ["k1", "k2", "k9"]
    _assert_routes(spark, tmp_path, keys, None, ("value",), [
        ("k1", "zz-first"), ("k2", "z"),
    ])
    _assert_routes(spark, tmp_path, keys, _ts(1), ("value",), [
        ("k2", "z"),
    ])


full_dml_history = st.fixed_dictionaries(
    {
        "base": _delta,
        "batches": st.lists(
            st.one_of(
                st.tuples(st.just("upsert"), _delta),
                st.tuples(
                    st.just("delete"),
                    st.tuples(
                        st.lists(
                            st.sampled_from(["k1", "k2", "k3", "k4"]),
                            min_size=1,
                            max_size=3,
                            unique=True,
                        ),
                        st.integers(min_value=0, max_value=200),
                    ),
                ),
                st.tuples(
                    st.just("update"),
                    st.tuples(
                        st.lists(
                            st.sampled_from(["k1", "k2", "k3", "k4", "k9"]),
                            min_size=1,
                            max_size=3,
                            unique=True,
                        ),
                        st.integers(min_value=0, max_value=200),
                    ),
                ),
            ),
            min_size=1,
            max_size=4,
        ),
        "asof_offsets": st.lists(
            st.integers(min_value=0, max_value=260), min_size=2, max_size=3
        ),
    }
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(h=full_dml_history)
def test_interleaved_upserts_deletes_updates_match_spec(
    spark, tmp_path_factory, h
):
    """Random interleavings of upserts, tombstone deletes, AND updates:
    Lakehouse.update re-reads the Current winners at the moment it runs
    and upserts the transformed rows at its own instant, so the model
    computes the matched winners with the SAME python merge spec over
    the files committed so far, then the transformed rows become one
    more ordinary delta. A no-match update must publish nothing. k9
    never exists — updates targeting it alone exercise the no-op."""
    from bazof_spark.writer import delete_keys

    tmp = tmp_path_factory.mktemp("prop_dml")
    w = TableWriter(spark, str(tmp / "t"), SCHEMA)

    def df(rows):
        return spark.createDataFrame(
            [(k, _ts(off), v) for k, off, v in rows], SCHEMA.to_struct_type()
        )

    w.add_segment("s1", _ts(0), base_df=df(h["base"]))
    w.commit()
    lh = Lakehouse(spark, str(tmp))
    file_rows = {"s1_base.parquet": list(h["base"])}

    def current_files():
        return {
            f
            for f, _ in lh.table("t")
            .get_current_snapshot()
            .ranked_data_files(Current)
        }

    def current_winners():
        ranked = lh.table("t").get_current_snapshot().ranked_data_files(
            Current
        )
        return _python_merge([(r, file_rows[f]) for f, r in ranked], None)

    for kind, payload in h["batches"]:
        before = current_files()
        if kind == "upsert":
            lh.upsert("t", df(payload))
            rows = list(payload)
        elif kind == "delete":
            keys, off = payload
            delete_keys(spark, str(tmp / "t"), keys, at=_ts(off))
            rows = [(k, off, _TOMB) for k in sorted(keys)]
        else:  # update
            keys, off = payload
            winners = current_winners()
            matched = {
                k: v
                for k, v in winners.items()
                if k in keys and v is not _TOMB
            }
            quoted = ", ".join(f"'{k}'" for k in keys)
            did = lh.update(
                "t",
                {"value": "value || 'u'"},
                where=f"key IN ({quoted})",
                at=_ts(off),
            )
            assert did == bool(matched), (keys, winners)
            if not matched:
                continue
            rows = [(k, off, v + "u") for k, v in sorted(matched.items())]
        new = current_files() - before
        assert len(new) == 1, (kind, new)
        file_rows[new.pop()] = rows

    snapshot = lh.table("t").get_current_snapshot()
    for t_off in [None, *h["asof_offsets"]]:
        as_of = None if t_off is None else _ts(t_off)
        ranked = snapshot.ranked_data_files(
            Current if as_of is None else EventTime(as_of)
        )
        winners = _python_merge([(r, file_rows[f]) for f, r in ranked], t_off)
        expected = {k: v for k, v in winners.items() if v is not _TOMB}
        got = {
            r["key"]: r["value"]
            for r in lh.scan("t", as_of=as_of).collect()
        }
        assert got == expected, f"as_of offset {t_off}"


# --- round 8: multi-clause MERGE property test -----------------------------

_mc_table = st.dictionaries(
    st.sampled_from(["a", "b", "c", "d", "e"]),
    st.none() | st.floats(min_value=0, max_value=100, allow_nan=False),
    min_size=1,
    max_size=5,
)
_mc_source = st.dictionaries(
    st.sampled_from(["a", "b", "c", "x", "y"]),
    st.floats(min_value=0, max_value=100, allow_nan=False),
    min_size=1,
    max_size=5,
)
_mc_clause = st.tuples(
    # "bump" = per-column UPDATE SET value = value + 1000 (round-8
    # assignment-list clause; NULL propagates through the expression)
    st.sampled_from(["delete", "update", "bump"]),
    st.none() | st.integers(min_value=0, max_value=100),
)


def _mc_fix_clauses(cs):
    """Enforce the parser's reachability rule: an unpredicated matched
    clause terminates the list."""
    out = []
    for act, thr in cs:
        out.append((act, thr))
        if thr is None:
            break
    return out


_mc_clauses = st.lists(_mc_clause, min_size=1, max_size=3).map(
    _mc_fix_clauses
)

# round 9: BY SOURCE clause list — DELETE or UPDATE SET (value+2000),
# statement order, same reachability rule as matched clauses
_bs_clause = st.tuples(
    st.sampled_from(["delete", "bsbump"]),
    st.none() | st.integers(min_value=0, max_value=100),
)
_bs_clauses = st.lists(_bs_clause, min_size=0, max_size=2).map(
    _mc_fix_clauses
)

multi_merge_case = st.fixed_dictionaries(
    {
        "table": _mc_table,
        "source": _mc_source,
        "clauses": _mc_clauses,
        "insert": st.booleans(),
        "by_src": _bs_clauses,
    }
)


def _mc_model(table, source, clauses, insert, by_src):
    """Direct interpretation of the statement semantics: first matching
    WHEN MATCHED clause wins per key (predicates null-safe over the
    TARGET's current value), WHEN NOT MATCHED inserts, and the first
    matching WHEN NOT MATCHED BY SOURCE clause wins per unmatched
    target key (DELETE drops it; UPDATE SET applies the expressions to
    its current row — NULL propagates)."""
    out = dict(table)
    for k in table:
        if k in source:
            for act, thr in clauses:
                holds = (
                    True
                    if thr is None
                    else (table[k] is not None and table[k] < thr)
                )
                if holds:
                    if act == "delete":
                        out.pop(k, None)
                    elif act == "bump":
                        out[k] = (
                            None if table[k] is None else table[k] + 1000
                        )
                    else:
                        out[k] = source[k]
                    break
        else:
            for act, thr in by_src:
                holds = (
                    True
                    if thr is None
                    else (table[k] is not None and table[k] < thr)
                )
                if holds:
                    if act == "delete":
                        out.pop(k, None)
                    else:  # bsbump
                        out[k] = (
                            None if table[k] is None else table[k] + 2000
                        )
                    break
    if insert:
        for k, v in source.items():
            if k not in table:
                out[k] = v
    return out


# target with a NULL value and a key on each side of the predicate
# bound; source matching two target keys and bringing one new key
_MC_PINNED = {
    "table": {"a": 10.0, "b": None, "c": 70.0, "d": 40.0},
    "source": {"a": 1.0, "c": 2.0, "x": 3.0},
    "by_src": [],
}


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=multi_merge_case)
# every MERGE shape runs against the model whatever hypothesis draws:
# the lone DELETE with and without a predicate, insert-only, and the
# canonical UPDATE SET * + INSERT * upsert
@example(case=dict(_MC_PINNED, clauses=[("delete", None)], insert=False))
@example(case=dict(_MC_PINNED, clauses=[("delete", 50)], insert=False))
@example(case=dict(_MC_PINNED, clauses=[], insert=True))
@example(case=dict(_MC_PINNED, clauses=[("update", None)], insert=True))
def test_multi_clause_merge_matches_model(spark, tmp_path_factory, case):
    """Random table states × random source rows × random clause lists
    (with NULL target values exercising three-valued predicates): the
    engine's single-commit multi-clause MERGE equals the direct Python
    interpretation of first-match-wins semantics."""
    root = str(tmp_path_factory.mktemp("mcmerge"))
    lh = Lakehouse(spark, root)
    rows_sql = " UNION ALL ".join(
        f"SELECT '{k}' AS key, timestamp'2024-01-01' AS event_time, "
        + ("CAST(NULL AS DOUBLE) AS value" if v is None else f"CAST({v!r} AS DOUBLE) AS value")
        for k, v in sorted(case["table"].items())
    )
    lh.sql(f"CREATE TABLE t AS {rows_sql}")
    src_sql = " UNION ALL ".join(
        f"SELECT '{k}' AS key, timestamp'2024-02-01' AS event_time, "
        f"CAST({v!r} AS DOUBLE) AS value"
        for k, v in sorted(case["source"].items())
    )
    actions = {
        "delete": "DELETE",
        "update": "UPDATE SET *",
        "bump": "UPDATE SET value = value + 1000",
    }
    clause_sql = " ".join(
        f"WHEN MATCHED{'' if thr is None else f' AND value < {thr}'} "
        f"THEN {actions[act]}"
        for act, thr in case["clauses"]
    )
    if case["insert"]:
        clause_sql += " WHEN NOT MATCHED THEN INSERT *"
    bs_actions = {
        "delete": "DELETE",
        "bsbump": "UPDATE SET value = value + 2000",
    }
    for act, thr in case["by_src"]:
        clause_sql += (
            " WHEN NOT MATCHED BY SOURCE"
            + ("" if thr is None else f" AND value < {thr}")
            + f" THEN {bs_actions[act]}"
        )
    v0 = int(lh.table("t").current_version())
    lh.sql(f"MERGE INTO t USING {src_sql} ON key {clause_sql}")
    expected = _mc_model(
        case["table"], case["source"], case["clauses"],
        case["insert"], case["by_src"],
    )
    got = {
        r["key"]: r["value"]
        for r in lh.sql("SELECT key, value FROM t").collect()
    }
    assert got == expected, (case, got)
    # at most ONE version bump for the whole statement (0 = no-op)
    assert int(lh.table("t").current_version()) - v0 <= 1
