"""Measure bloom file-skipping on a scattered layout.

Builds a table of N_FILES deltas whose key ranges ALL span the full key
space (hash-scattered keys — the layout time-partitioned ingest
produces), so range zone maps admit every file for a point lookup and
only the per-file key blooms prune. Times the same lookup twice:

- with stats: metadata planning probes each file's bloom → O(1) files
  scheduled;
- stripped (simulating a reference-authored / pre-bloom snapshot):
  every file is scheduled, scanned, row-filtered, and merged.

Usage: python tools/bloom_experiment.py [n_files] [rows_per_file]
Prints one JSON line.
"""

import hashlib
import json
import os
import sys
import tempfile
import time
import datetime as dt

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row  # noqa: E402

from bazof_spark import Lakehouse, Snapshot  # noqa: E402
from bazof_spark.asof import Current  # noqa: E402
from bazof_spark.projection import Projection  # noqa: E402
from bazof_spark.schema import ColumnDef, ColumnType, TableSchema  # noqa: E402
from bazof_spark.session import get_spark  # noqa: E402
from bazof_spark.writer import TableWriter  # noqa: E402

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _key(file_i: int, row_i: int) -> str:
    # hash-scattered: every file's keys cover the whole lex range
    return hashlib.md5(f"{file_i}/{row_i}".encode()).hexdigest()[:16]


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 5000
    spark = get_spark(shuffle_partitions=32)
    root = tempfile.mkdtemp(prefix="bazof_bloom_exp_")
    w = TableWriter(
        spark,
        os.path.join(root, "t"),
        TableSchema(
            columns=(
                ColumnDef(name="v", data_type=ColumnType.STRING, nullable=False),
            )
        ),
    )
    seg = w.add_segment("s1", start=T0)
    for i in range(n_files):
        seg.add_delta(
            spark.createDataFrame(
                [Row(key=_key(i, j), event_time=T0, v=f"f{i}") for j in range(rows)]
            ),
            start=T0,
            end=T0,
            name=f"d{i:03d}.parquet",
        )
    t_commit = time.perf_counter()
    w.commit("1")
    commit_s = time.perf_counter() - t_commit

    lh = Lakehouse(spark, root)
    table = lh.table("t")
    snap = table.get_current_snapshot()
    probe = [_key(n_files // 2, 7)]

    def run(snapshot: Snapshot) -> tuple[float, int, int]:
        t0 = time.perf_counter()
        df = lh.scan_snapshot(
            table, snapshot, Current, Projection.all(),
            [("isin", "key", tuple(probe))],
        )
        n = df.count()
        return time.perf_counter() - t0, len(df.inputFiles()), n

    # strip stats to simulate a pre-bloom snapshot
    doc = json.loads(snap.serialize())

    def strip(node):
        for f in ("key_bloom", "key_min", "key_max"):
            node.pop(f, None)
        for s in node.get("segments", []):
            strip(s)
        for d in node.get("delta", []):
            for f in ("key_bloom", "key_min", "key_max"):
                d.pop(f, None)

    for s in doc["segments"]:
        strip(s)
    stripped = Snapshot.deserialize(json.dumps(doc))

    # warm both paths once, then measure
    run(snap), run(stripped)
    bloom_s, bloom_files, n1 = run(snap)
    full_s, full_files, n2 = run(stripped)
    assert n1 == n2 == 1, (n1, n2)
    print(
        json.dumps(
            {
                "n_files": n_files,
                "rows_per_file": rows,
                "commit_stats_s": round(commit_s, 3),
                "bloom_lookup_s": round(bloom_s, 3),
                "bloom_files_read": bloom_files,
                "stripped_lookup_s": round(full_s, 3),
                "stripped_files_read": full_files,
                "speedup": round(full_s / bloom_s, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
