"""Page-index pruning in the Python Data Source reader (the
object-store scan path): ColumnIndex min/max vs pushed predicates
selects page row-spans per row group; row groups with no may-match
page are never read, partial groups are sliced to the surviving spans
BEFORE rows cross to the JVM, and files without indexes degrade to no
pruning. Reference: the JVM vectorized reader page-prunes local roots
the same way; this is the reader-side half of the round-11 write-side
page-index feature (every commit site emits indexes)."""

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.datasource import (  # noqa: E402
    _file_batches,
    _intersect_spans,
    _page_prune_spans,
)

N = 4000
ROWS_PER_GROUP = 1000


@pytest.fixture(scope="module")
def indexed_file(tmp_path_factory):
    """4 row groups × ~5 pages each, k ascending — so any selective
    predicate on k has whole groups AND partial pages to prune."""
    path = str(tmp_path_factory.mktemp("pp") / "indexed.parquet")
    t = pa.table(
        {
            "k": pa.array(range(N), type=pa.int64()),
            "name": pa.array([f"u{i:05d}" for i in range(N)]),
            "score": pa.array([i / 7.0 for i in range(N)], type=pa.float64()),
        }
    )
    pq.write_table(
        t,
        path,
        row_group_size=ROWS_PER_GROUP,
        data_page_size=1024,  # a few hundred rows per page...
        write_batch_size=64,  # ...and check the budget often enough
        use_dictionary=False,  # dictionary pages would defeat the size cap
        write_page_index=True,
        write_statistics=True,
        compression="snappy",
    )
    return path


def _read(path, pushed, stats=None, columns=("k", "name"), **kw):
    types = {"k": pa.int64(), "name": pa.string()}
    schema = pa.schema(
        [pa.field(c, types[c]) for c in columns]
        + [pa.field("_rank", pa.int64()), pa.field("_row_idx", pa.int64())]
    )
    cols = [c for c in columns]
    order = cols + ["_rank", "_row_idx"]
    tables = list(
        _file_batches(
            path, 0, cols, order, schema, pushed=pushed,
            prune_stats=stats, **kw
        )
    )
    if not tables:
        return pa.table({f.name: pa.array([], type=f.type) for f in schema})
    return pa.concat_tables(tables)


def test_equality_predicate_skips_groups_and_counts_pages(indexed_file):
    stats = {}
    t = _read(indexed_file, [("equal", "k", 2500)], stats)
    # superset of the matching row, sliced to its page span
    ks = t.column("k").to_pylist()
    assert 2500 in ks
    assert len(ks) < ROWS_PER_GROUP  # partial group sliced to one page
    # 3 of 4 row groups have no may-match page: their bytes never move
    assert stats["groups_skipped"] == 3
    assert stats["pages_pruned"] > stats["pages_total"] * 0.7
    assert stats["rows_pruned"] >= N - ROWS_PER_GROUP
    # file-global row provenance survives the slicing
    idx = t.column("_row_idx").to_pylist()
    assert idx == ks  # k was written as the row number


def test_range_predicate_spans_group_boundary(indexed_file):
    stats = {}
    t = _read(
        indexed_file,
        [("greater_equal", "k", 950), ("less", "k", 1050)],
        stats,
    )
    ks = set(t.column("k").to_pylist())
    assert set(range(950, 1050)) <= ks  # superset always
    assert stats["groups_skipped"] == 2  # groups 2 and 3 out entirely
    idx = t.column("_row_idx").to_pylist()
    assert idx == sorted(ks)


def test_string_and_isin_predicates(indexed_file):
    stats = {}
    t = _read(indexed_file, [("equal", "name", "u03999")], stats)
    assert "u03999" in t.column("name").to_pylist()
    assert stats["groups_skipped"] == 3
    stats2 = {}
    t2 = _read(indexed_file, [("isin", "k", (10, 3010))], stats2)
    ks = set(t2.column("k").to_pylist())
    assert {10, 3010} <= ks
    assert stats2["groups_skipped"] == 2


def test_impossible_predicate_reads_nothing(indexed_file):
    stats = {}
    t = _read(indexed_file, [("greater", "k", 10 * N)], stats)
    assert t.num_rows == 0
    assert stats["groups_skipped"] == 4
    assert stats["rows_pruned"] == N


def test_pruned_read_equals_unpruned_after_exact_filter(indexed_file):
    """The contract: pruning yields a SUPERSET; applying the exact
    predicate to both reads must give identical rows."""
    import pyarrow.compute as pc

    for pushed in (
        [("equal", "k", 777)],
        [("less_equal", "k", 123)],
        [("greater", "k", 3900)],
        [("equal", "name", "u01234")],
    ):
        pruned = _read(indexed_file, pushed)
        full = _read(indexed_file, None)

        def exact(t):
            for op, col, v in pushed:
                f = {
                    "equal": pc.equal,
                    "less_equal": pc.less_equal,
                    "greater": pc.greater,
                }[op]
                t = t.filter(f(t.column(col), pa.scalar(v)))
            return t.sort_by("_row_idx")

        assert exact(pruned).equals(exact(full))


def test_byte_range_split_composes_with_pruning(indexed_file):
    """Row-group byte-range assignment (split reads) and page pruning
    compose: a split covering groups 0-1 with a predicate matching
    group 1 only reads group 1's spans, with exact _row_idx."""
    md = pq.ParquetFile(indexed_file).metadata
    g2_off = md.row_group(2).column(0).dictionary_page_offset or md.row_group(
        2
    ).column(0).data_page_offset
    t = _read(
        indexed_file,
        [("equal", "k", 1500)],
        start=0,
        length=g2_off,  # groups 0 and 1 only
    )
    ks = t.column("k").to_pylist()
    assert 1500 in ks and all(k < 2 * ROWS_PER_GROUP for k in ks)
    assert t.column("_row_idx").to_pylist() == ks


def test_no_page_index_degrades_to_full_read(tmp_path):
    """Files without page indexes (reference-authored) read exactly as
    before: no pruning, no error, stats untouched."""
    path = str(tmp_path / "noindex.parquet")
    t = pa.table({"k": pa.array(range(100), type=pa.int64())})
    pq.write_table(t, path, write_page_index=False)
    stats = {}
    out = _read(path, [("equal", "k", 5)], stats, columns=("k",))
    assert out.num_rows == 100  # superset = everything
    assert stats.get("groups_skipped", 0) == 0
    assert stats.get("pages_pruned", 0) == 0


def test_prune_planner_on_reference_files(reference_data):
    """Reference-authored files (arrow-rs writes page indexes by
    default) prune too — and always to a SUPERSET of the matching
    rows: probing every reference table0 file for a key each file may
    or may not contain never loses a row."""
    import pyarrow.compute as pc

    from bazof_spark import iofs

    root = os.path.join(reference_data, "table0")
    files = [f for f in os.listdir(root) if f.endswith(".parquet")]
    assert files
    for name in files:
        path = os.path.join(root, name)
        full = pq.read_table(path)
        for key in ("1", "3"):
            fs, rel = iofs.split(path)
            spans = _page_prune_spans(
                fs, rel, [("equal", "key", key)], {"key": "key"},
                list(range(pq.ParquetFile(path).metadata.num_row_groups)),
            )
            expect = full.filter(pc.equal(full.column("key"), key)).num_rows
            if spans is None:
                continue  # no index: everything is read, superset holds
            got = sum(n for s in spans.values() for _, n in s)
            assert got >= expect


def test_intersect_spans():
    assert _intersect_spans([(0, 10)], [(5, 10)]) == [(5, 5)]
    assert _intersect_spans([(0, 4), (8, 4)], [(2, 8)]) == [(2, 2), (8, 2)]
    assert _intersect_spans([(0, 4)], [(4, 4)]) == []
    assert _intersect_spans([], [(0, 4)]) == []


def test_asof_bound_prunes_event_time_pages(tmp_path):
    """The as-of instant page-prunes via the event_time ColumnIndex:
    with the writer's event_time-DESC invariant, a historical as-of
    skips the leading (newest) pages/groups entirely — and the
    surviving superset still contains every eligible row. MILLIS-unit
    columns floor the bound exactly (v_ms <= floor(B_us/1000) is the
    same predicate)."""
    from datetime import datetime, timezone

    for unit, tz in (("us", "UTC"), ("ms", "UTC"), ("us", None)):
        path = str(tmp_path / f"et_{unit}_{tz}.parquet")
        # event_time DESC like the writer: group 0 = newest
        times = [
            datetime(2024, 1, 1, tzinfo=timezone.utc).replace(hour=0)
            + __import__("datetime").timedelta(minutes=N - i)
            for i in range(N)
        ]
        stored = times if tz else [x.replace(tzinfo=None) for x in times]
        t = pa.table(
            {
                "event_time": pa.array(
                    stored, type=pa.timestamp(unit, tz=tz)
                ),
                "k": pa.array(range(N), type=pa.int64()),
            }
        )
        pq.write_table(
            t, path, row_group_size=ROWS_PER_GROUP,
            write_page_index=True, use_dictionary=False,
        )
        bound = times[3 * ROWS_PER_GROUP]  # only the last group's range
        stats = {}
        schema = pa.schema(
            [
                pa.field("event_time", pa.timestamp(unit, tz=tz)),
                pa.field("k", pa.int64()),
                pa.field("_rank", pa.int64()),
                pa.field("_row_idx", pa.int64()),
            ]
        )
        out = list(
            _file_batches(
                path, 0, ["event_time", "k"],
                ["event_time", "k", "_rank", "_row_idx"], schema,
                pushed=[("less_equal", "event_time", bound)],
                prune_stats=stats,
            )
        )
        rows = pa.concat_tables(out)
        kept = rows.column("event_time").to_pylist()
        # superset must include every row actually <= bound (naive
        # stored values are UTC instants by the repo convention)
        cmp_bound = bound if tz else bound.replace(tzinfo=None)
        expect = sum(1 for x in stored if x <= cmp_bound)
        matching = sum(1 for x in kept if x <= cmp_bound)
        assert matching == expect, (unit, tz)
        assert stats["groups_skipped"] >= 3, (unit, tz, stats)


def test_region_cap_falls_back_to_per_chunk_reads(indexed_file, monkeypatch):
    """A page-index region larger than the coalesce cap reads each
    chunk's index individually — same plan, same prune counts."""
    import bazof_spark.datasource as ds

    stats = {}
    base = _read(indexed_file, [("equal", "k", 2500)], stats)
    monkeypatch.setattr(ds, "_INDEX_REGION_MAX", 0)
    stats2 = {}
    fb = _read(indexed_file, [("equal", "k", 2500)], stats2)
    assert stats2 == stats
    assert fb.sort_by("_row_idx").equals(base.sort_by("_row_idx"))


def test_point_lookup_prunes_split_plan(
    spark, tmp_path, monkeypatch, reference_data
):
    """Planner-side split pruning (point-lookup shape): a pushed key
    equality on a multi-range split plan schedules ONLY the byte
    ranges whose row groups may contain the key — a selective lookup
    on a huge base becomes one task, not ceil(size/maxPartitionBytes)
    empty ones — and the read stays exact."""
    import shutil
    from pathlib import Path

    from pyspark.sql.datasource import EqualTo

    from bazof_spark import Lakehouse
    from bazof_spark.asof import Current
    from bazof_spark.datasource import BazofReader

    root = tmp_path / "lake"
    shutil.copytree(reference_data, root)
    for p in Path(root, "financials").glob("*.parquet"):
        t = pq.read_table(p).sort_by("key")
        pq.write_table(
            t, p, row_group_size=16, write_page_index=True,
            use_dictionary=False,
        )
        assert pq.ParquetFile(p).metadata.num_row_groups > 1

    lh = Lakehouse(spark, str(root))
    snap = lh.table("financials").get_current_snapshot()

    def mk_reader():
        return BazofReader(
            {"maxpartitionbytes": "2k"},
            snap.schema.to_struct_type(),
            resolved=(lh.table("financials"), snap, Current),
        )

    base = mk_reader()
    n_unfiltered = len(base.partitions())
    assert n_unfiltered > len(snap.segments)  # files actually split

    probe = mk_reader()
    kept = list(probe.pushFilters([EqualTo(("key",), "MSFT")]))
    assert kept == []  # the equality is accepted
    parts = probe.partitions()
    assert 0 < len(parts) < n_unfiltered  # empty ranges never schedule
    rows = [
        row
        for part in parts
        for batch in probe.read(part)
        for row in batch.to_pylist()
    ]
    assert rows and all(r["key"] == "MSFT" for r in rows)
