"""Object-store URI discipline for the precedence-rank attachment.

The rank map keys (driver-side `_normalize_file_uri` over snapshot
paths) and the per-row join key (`_normalized_input_file_sql()` over
`input_file_name()`) must land in the SAME canonical form for every
spelling a filesystem might emit — file:/ vs file:// vs file:///,
s3a/abfss, percent-encoding, doubled slashes — or ranks silently miss.
These tests pin the congruence property, drive the >512-file
broadcast-join path end-to-end (including on a file:// root), and
prove a missed lookup fails fast instead of dropping rows.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bazof_spark.lakehouse as lh_mod  # noqa: E402
from bazof_spark import Lakehouse  # noqa: E402
from bazof_spark.lakehouse import (  # noqa: E402
    _normalize_file_uri,
    _normalized_input_file_sql,
    _sql_str,
    _uri_variants,
)

AS_OF = "2019-01-17T00:00:00.000Z"


def sql_norm(spark, spelled: str) -> str:
    # _normalized_input_file_sql takes the input as SQL text (the scan
    # parses it as ONE expression — opt round 1); _sql_str-quoting the
    # spelling drives the exact production code path with a literal input
    return spark.range(1).selectExpr(
        f"{_normalized_input_file_sql(_sql_str(spelled))} AS n"
    ).first()["n"]


# (canonical path as the snapshot would store it, spellings
# input_file_name might emit for that same file)
CASES = [
    (
        "/tmp/bazof/part-0.parquet",
        [
            "file:/tmp/bazof/part-0.parquet",
            "file:///tmp/bazof/part-0.parquet",
            "file:////tmp/bazof/part-0.parquet",
        ],
    ),
    (
        "/tmp/with space/part 1.parquet",
        [
            "file:///tmp/with%20space/part%201.parquet",
            "file:/tmp/with space/part 1.parquet",
        ],
    ),
    (
        "/tmp/plus+name/a+b.parquet",
        ["file:///tmp/plus+name/a+b.parquet"],
    ),
    (
        "s3a://bucket/tables/t1/base.parquet",
        [
            "s3a://bucket/tables/t1/base.parquet",
            "s3a://bucket/tables/t1/base.parquet".replace("/base", "/base"),
        ],
    ),
    (
        "abfss://cont@acct.dfs.core.windows.net/t1/d1.parquet",
        ["abfss://cont@acct.dfs.core.windows.net/t1/d1.parquet"],
    ),
    (
        "gs://bucket/t/part%20x.parquet",
        ["gs://bucket/t/part%20x.parquet"],
    ),
]


@pytest.mark.parametrize("canonical,spellings", CASES)
def test_normalization_congruence(spark, canonical, spellings):
    """Invariant: SQL-normalizing any runtime spelling equals
    driver-normalizing the canonical snapshot path."""
    want = _normalize_file_uri(canonical)
    for s in spellings:
        assert sql_norm(spark, s) == want, s


def test_python_and_sql_agree_on_same_string(spark):
    """Second invariant: for identical input strings the two
    normalizers agree exactly (URI inputs; plain local paths are
    Python-side only — input_file_name always emits a scheme)."""
    for _, spellings in CASES:
        for s in spellings:
            assert _normalize_file_uri(s) == sql_norm(spark, s), s


def test_plus_is_not_decoded_to_space(spark):
    assert sql_norm(spark, "file:///a/b+c.parquet") == "a/b+c.parquet"
    assert _normalize_file_uri("/a/b+c.parquet") == "a/b+c.parquet"


def test_uri_variants_cover_sql_spellings(spark):
    """Every variant generated for the fast map normalizes to the
    canonical key (so fast hit and fallback agree)."""
    p = "/tmp/bazof tables/part-3.parquet"
    want = _normalize_file_uri(p)
    for v in _uri_variants(p):
        assert sql_norm(spark, v) == want, v


def test_scale_rank_path_matches_literal_path(
    spark, reference_data, monkeypatch
):
    """Force the >512-file broadcast-join rank path on a real
    multi-file table and pin it to the literal-map path's answer."""
    base = (
        Lakehouse(spark, reference_data)
        .scan("financials", as_of=AS_OF)
        .collect()
    )
    monkeypatch.setattr(lh_mod, "_RANK_MAP_LITERAL_MAX", 0)
    joined = (
        Lakehouse(spark, reference_data)
        .scan("financials", as_of=AS_OF)
        .collect()
    )
    assert sorted(map(tuple, joined)) == sorted(map(tuple, base))
    assert len(base) > 0


def test_scale_rank_path_on_file_uri_root(spark, reference_data, monkeypatch):
    """The join path must survive a file:// root — input_file_name's
    file-scheme spellings and the snapshot's URI paths meet in the
    scheme-less canonical form."""
    plain = (
        Lakehouse(spark, reference_data)
        .scan("financials", as_of=AS_OF)
        .collect()
    )
    monkeypatch.setattr(lh_mod, "_RANK_MAP_LITERAL_MAX", 0)
    via_uri = (
        Lakehouse(spark, "file://" + reference_data)
        .scan("financials", as_of=AS_OF)
        .collect()
    )
    assert sorted(map(tuple, via_uri)) == sorted(map(tuple, plain))


def test_scale_rank_path_fails_fast_on_unknown_spelling(
    spark, reference_data, monkeypatch
):
    """A URI spelling the map doesn't anticipate must raise, not
    silently null out precedence (which would quietly corrupt merges)."""
    monkeypatch.setattr(lh_mod, "_RANK_MAP_LITERAL_MAX", 0)
    monkeypatch.setattr(
        lh_mod, "_normalize_file_uri", lambda p: "WRONG/" + os.path.basename(p)
    )
    with pytest.raises(Exception, match="no precedence rank"):
        Lakehouse(spark, reference_data).scan(
            "financials", as_of=AS_OF
        ).collect()


def _author_many_file_table(root: str, n_files: int) -> str:
    """Author a bazof table whose Current snapshot lists `n_files`
    ranked delta files under ONE open segment — the financials tree
    (171 files) extrapolated to realistic compacted-lake counts. Each
    file carries one unique key plus a shared key 'k0' written with the
    IDENTICAL event_time everywhere, so k0's winner is decided purely
    by file precedence (rank 0 = newest delta start, metadata.rs:47-73
    ordering): exactly the thing the rank attachment must get right."""
    import datetime as dt
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    tdir = os.path.join(root, "many")
    os.makedirs(tdir)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ts_type = pa.timestamp("ms", tz="UTC")
    deltas = []
    for i in range(n_files):
        start = t0 + dt.timedelta(minutes=i)
        fname = f"d{i:04d}.parquet"
        pq.write_table(
            pa.table(
                {
                    "key": pa.array(["k0", f"u{i:04d}"], pa.string()),
                    "event_time": pa.array([t0, start], ts_type),
                    "value": pa.array([f"v{i}", f"uv{i}"], pa.string()),
                }
            ),
            os.path.join(tdir, fname),
        )
        iso = start.strftime("%Y-%m-%dT%H:%M:%S.000Z")
        deltas.append({"file": fname, "start": iso, "end": iso})
    snap = {
        "schema": {
            "columns": [
                {"name": "value", "data_type": "String", "nullable": False}
            ]
        },
        "segments": [
            {
                "id": "all",
                "start": "2024-01-01T00:00:00.000Z",
                "delta": deltas,
            }
        ],
    }
    with open(os.path.join(tdir, "s1.json"), "w") as f:
        json.dump(snap, f)
    with open(os.path.join(tdir, "version.txt"), "w") as f:
        f.write("1")
    return tdir


def test_rank_join_path_at_2000_files(spark, tmp_path):
    """The scale (broadcast-join) rank path at a realistic file count:
    2,000 ranked files through the REAL threshold (no monkeypatch —
    2000 > _RANK_MAP_LITERAL_MAX=512). Correctness: every unique key
    survives, and the shared key resolves to the rank-0 file (newest
    delta start) because file precedence beats timestamp. Plan: the
    rank attach must be ONE broadcast exchange — a shuffle join on
    2,000 × N rows here would shuffle the whole table at 100 TB."""
    from bazof_spark.plans.inspect import (
        _plan_nodes,
        broadcast_join_count,
        shuffle_count,
    )

    n = 2000
    _author_many_file_table(str(tmp_path), n)
    df = Lakehouse(spark, str(tmp_path)).scan("many")

    nodes = _plan_nodes(df)
    assert sum(x == "BroadcastExchange" for x in nodes) == 1, nodes
    assert broadcast_join_count(df) == 1
    # one broadcast hash join for the rank + the merge's key agg: the
    # only data-sized exchange is the groupBy(key)
    assert shuffle_count(df) <= 1

    rows = {r["key"]: r["value"] for r in df.collect()}
    assert len(rows) == n + 1
    # rank 0 = newest start = file n-1 (deltas sort start DESC)
    assert rows["k0"] == f"v{n - 1}"
    assert rows["u0000"] == "uv0"
    assert rows[f"u{n - 1:04d}"] == f"uv{n - 1}"
