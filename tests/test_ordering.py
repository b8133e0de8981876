"""latest_wins_ordering: the one place owning both _rank conventions
(batch file-precedence vs stream snapshot-version) — see
bazof_spark/ordering.py and the CAUTION note in datasource.py's
BazofStreamReader."""

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row, functions as F  # noqa: E402

from bazof_spark.ordering import latest_wins_ordering  # noqa: E402


def _raw(spark, rows):
    """rows: (key, event_time, value, _rank, _row_idx)"""
    return spark.createDataFrame(
        [Row(key=k, event_time=t, value=v, _rank=r, _row_idx=i)
         for k, t, v, r, i in rows]
    )


def _winners(df, source):
    payload = F.struct(F.col("event_time"), F.col("value"))
    out = df.groupBy("key").agg(
        F.max_by(payload, latest_wins_ordering(source)).alias("_w")
    )
    return {r["key"]: r["_w"]["value"] for r in out.collect()}


T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 2, 1)


def test_batch_lower_rank_wins(spark):
    # batch: _rank is the file-precedence index — LOWER wins even
    # against a newer event_time in a lower-precedence file
    df = _raw(spark, [("a", T0, "delta", 0, 0), ("a", T1, "base", 1, 0)])
    assert _winners(df, "batch") == {"a": "delta"}


def test_stream_higher_version_wins(spark):
    # stream: _rank is the committing snapshot version — HIGHER wins
    df = _raw(spark, [("a", T1, "v1", 1, 0), ("a", T0, "v2", 2, 0)])
    assert _winners(df, "stream") == {"a": "v2"}


def test_shared_tiebreaks(spark):
    # same rank: newest event_time wins; same (rank, event_time): the
    # FIRST physical row in the file wins (the reference's intra-file
    # rule, lakehouse.rs:54-79) — identically in both conventions
    df = _raw(
        spark,
        [
            ("a", T0, "older", 5, 0),
            ("a", T1, "newer", 5, 1),
            ("b", T0, "first", 5, 0),
            ("b", T0, "second", 5, 1),
        ],
    )
    for source in ("batch", "stream"):
        assert _winners(df, source) == {"a": "newer", "b": "first"}, source


def test_arrow_first_per_key_equals_max_by_winner(spark):
    """The Arrow merge of keyed driver lookups (sort by
    LATEST_WINS_SORT_KEYS, first row per key) picks Spark's batch
    max_by winner on crafted rank, event_time and row-index ties."""
    import pyarrow as pa

    from bazof_spark.lakehouse import _latest_per_key_arrow

    rows = [
        # a lower rank beats a newer event_time
        ("a", T1, "a-r2-new", 2, 0), ("a", T0, "a-r1-old", 1, 0),
        # same rank: newer event_time beats a lower row index
        ("b", T0, "b-old", 3, 0), ("b", T1, "b-new", 3, 5),
        # same (rank, event_time): the first physical row, listed last
        ("c", T0, "c-row4", 4, 4), ("c", T0, "c-row2", 4, 2),
        ("c", T0, "c-row3", 4, 3),
        # all three tie-breaks at once, across two ranks
        ("d", T1, "d-r0-row1", 0, 1), ("d", T1, "d-r0-row0", 0, 0),
        ("d", T1, "d-r6-row0", 6, 0), ("d", T0, "d-r0-old", 0, 0),
    ]
    df = _raw(spark, rows)
    raw = pa.table({
        "key": [r[0] for r in rows],
        "event_time": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "value": [r[2] for r in rows],
        "_rank": pa.array([r[3] for r in rows], pa.int64()),
        "_row_idx": pa.array([r[4] for r in rows], pa.int64()),
    })

    def first_per_key(table):
        return dict(zip(
            table.column("key").to_pylist(), table.column("value").to_pylist()
        ))

    winners = _winners(df, "batch")
    assert winners == {
        "a": "a-r1-old", "b": "b-new", "c": "c-row2", "d": "d-r0-row0",
    }
    assert first_per_key(_latest_per_key_arrow(raw)) == winners
    # a winner from a tombstone rank hides its key
    assert first_per_key(_latest_per_key_arrow(raw, (1, 4))) == {
        "b": "b-new", "d": "d-r0-row0",
    }


def test_unknown_source_rejected():
    with pytest.raises(ValueError, match="batch"):
        latest_wins_ordering("nope")
