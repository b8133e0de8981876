"""End-to-end time-travel SQL over the reference's financials dataset —
the README demo query (crates/azof-datafusion/examples/query_example.rs:21-28,
README.md:19-26), cross-checked against an independent DuckDB oracle that
implements the same as-of merge semantics over the same pruned file list.
"""

from datetime import datetime, timezone

import duckdb
import pytest

from bazof_spark.asof import EventTime
from bazof_spark.lakehouse import Lakehouse


@pytest.fixture(scope="module")
def lh(spark, reference_data):
    return Lakehouse(spark, reference_data)


def duckdb_asof_oracle(root: str, table: str, as_of_iso: str):
    """Independent re-implementation of the as-of merge in DuckDB SQL:
    prune files with our metadata layer, then pick per key the row with
    min file rank, then max event_time."""
    lhmeta = Lakehouse(None, root)
    tbl = lhmeta.table(table)
    snap = tbl.get_current_snapshot()
    as_of = EventTime(as_of_iso)
    ranked = snap.ranked_data_files(as_of)
    selects = " UNION ALL ".join(
        f"SELECT *, {rank} AS _rank FROM read_parquet('{tbl.data_file_path(f)}')"
        for f, rank in ranked
    )
    t = as_of_iso.replace("T", " ").replace("Z", "")
    return duckdb.sql(
        f"""
        WITH all_rows AS ({selects}),
        eligible AS (
            SELECT * FROM all_rows WHERE event_time <= TIMESTAMP '{t}'
        ),
        won AS (
            SELECT *, row_number() OVER (
                PARTITION BY key ORDER BY _rank ASC, event_time DESC
            ) AS _rn FROM eligible
        )
        SELECT * EXCLUDE (_rank, _rn) FROM won WHERE _rn = 1
        """
    )


def test_readme_financials_query(lh):
    """Top-5 Software companies by revenue as of 2019-01-17."""
    df = lh.sql(
        """
        SELECT key AS symbol, revenue, net_income
          FROM financials AT ('2019-01-17T00:00:00.000Z')
         WHERE industry IN ('Software')
         ORDER BY revenue DESC, symbol
         LIMIT 5
        """
    )
    got = [tuple(r) for r in df.collect()]
    assert len(got) == 5

    oracle = duckdb_asof_oracle(
        lh.root, "financials", "2019-01-17T00:00:00.000Z"
    )
    expected = duckdb.sql(
        """
        SELECT key AS symbol, revenue, net_income FROM oracle
        WHERE industry IN ('Software')
        ORDER BY revenue DESC, symbol LIMIT 5
        """
    ).fetchall()
    assert got == [tuple(r) for r in expected]


def test_full_scan_matches_duckdb_oracle(lh):
    """Whole-table as-of parity on the 171-file nested financials tree."""
    as_of = "2015-07-02T00:00:00.000Z"
    df = lh.scan("financials", as_of=as_of)
    got = {
        r["key"]: (r["industry"], r["revenue"], r["net_income"])
        for r in df.collect()
    }
    oracle = duckdb_asof_oracle(lh.root, "financials", as_of)
    exp = {
        r[0]: (r[2], r[3], r[5])
        for r in duckdb.sql(
            "SELECT key, event_time, industry, revenue, shares_diluted,"
            " net_income FROM oracle"
        ).fetchall()
    }
    assert len(got) == len(exp)
    assert got == exp


def test_system_time_syntax_and_self_join(lh):
    """Self-join of two as-of instants (distinct versioned views)."""
    df = lh.sql(
        """
        SELECT a.key, a.revenue AS rev_2015, b.revenue AS rev_2019
          FROM financials FOR SYSTEM_TIME AS OF '2015-07-02T00:00:00.000Z' a
          JOIN financials AT ('2019-01-17T00:00:00.000Z') b ON a.key = b.key
         WHERE b.revenue > a.revenue
        """
    )
    n = df.count()
    assert n > 0
    # spot-check one row against the oracles
    row = df.orderBy("key").first()
    o15 = duckdb_asof_oracle(lh.root, "financials", "2015-07-02T00:00:00.000Z")
    r15 = duckdb.sql(
        f"SELECT revenue FROM o15 WHERE key = '{row['key']}'"
    ).fetchone()
    assert r15[0] == row["rev_2015"]


def test_current_view_registration(lh):
    df = lh.sql("SELECT count(*) AS n FROM table0")
    assert df.collect()[0]["n"] == 3
