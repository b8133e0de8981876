"""Smoke tests for every CLI subcommand (cli.py mirrors azof-cli,
crates/azof-cli/src/main.rs:28-59). The CLI is a thin argparse layer
over the library, so one in-process invocation per subcommand (reusing
the session fixture — get_spark() is getOrCreate) pins the argument
wiring; one real subprocess run pins the `python -m bazof_spark.cli`
entry point itself."""

import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.cli import main  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def lake(tmp_path, reference_data):
    """Writable lakehouse: the reference's table0 (has CSVs for gen/
    upsert) + financials (multi-file history)."""
    for t in ("table0", "financials"):
        shutil.copytree(os.path.join(reference_data, t), str(tmp_path / t))
    return str(tmp_path)


def run(capsys, *argv) -> str:
    assert main(list(argv)) == 0
    return capsys.readouterr().out


def test_scan_current_and_as_of(spark, lake, capsys):
    out = run(capsys, "scan", "--path", lake, "--table", "table0")
    assert "abc2" in out and "xyz" in out
    out = run(
        capsys,
        "scan", "--path", lake, "--table", "table0",
        "--as-of", "2024-01-15T00:00:00", "--columns", "key,value",
    )
    assert "abc" in out and "abc2" not in out


def test_scan_key_predicates(spark, lake, capsys):
    out = run(
        capsys, "scan", "--path", lake, "--table", "financials",
        "--keys", "MSFT,ORCL", "--columns", "key,revenue",
    )
    assert "MSFT" in out and "ORCL" in out and "CRM" not in out
    out = run(
        capsys, "scan", "--path", lake, "--table", "financials",
        "--key-range", "SAP..SAP", "--columns", "key",
    )
    assert "SAP" in out and "MSFT" not in out
    with pytest.raises(SystemExit):
        main(["scan", "--path", lake, "--table", "financials",
              "--key-range", "no-dots"])


def test_sql_time_travel(spark, lake, capsys):
    out = run(
        capsys,
        "sql", "--path", lake,
        "--query",
        "SELECT key, value FROM table0 AT ('2024-02-17T00:00:00.000Z') "
        "ORDER BY key",
    )
    assert "abc2" in out


def test_changes(spark, lake, capsys):
    out = run(
        capsys,
        "changes", "--path", lake, "--table", "table0",
        "--since", "2024-01-15T00:00:00",
    )
    assert "abc2" in out  # the delta row appears in the feed


def test_gen_csv_to_parquet(spark, lake, capsys):
    parquet = os.path.join(lake, "table0", "delta1.parquet")
    os.unlink(parquet)  # regenerate it from its CSV
    out = run(capsys, "gen", "--path", lake, "--table", "table0", "--file", "delta1")
    assert "wrote" in out and os.path.exists(parquet)
    out = run(capsys, "scan", "--path", lake, "--table", "table0")
    assert "abc2" in out


def test_upsert_restore_vacuum_history_validate(spark, lake, capsys):
    batch = os.path.join(lake, "batch.csv")
    with open(batch, "w", encoding="utf-8") as f:
        f.write("9,2024-05-01T00:00:00.000Z,new-row\n")
    out = run(capsys, "upsert", "--path", lake, "--table", "table0", "--file", batch)
    assert "version 2" in out
    out = run(capsys, "scan", "--path", lake, "--table", "table0")
    assert "new-row" in out

    out = run(capsys, "history", "--path", lake, "--table", "table0")
    assert "v1" in out and "v2" in out and "*" in out

    out = run(capsys, "validate", "--path", lake, "--table", "table0")
    assert out.strip().endswith("OK")

    out = run(capsys, "restore", "--path", lake, "--table", "table0", "--version", "1")
    assert "restored" in out
    out = run(capsys, "scan", "--path", lake, "--table", "table0")
    assert "new-row" not in out

    out = run(capsys, "vacuum", "--path", lake, "--table", "table0", "--dry-run")
    assert "would remove" in out


def test_validate_exit_codes(spark, tmp_path, capsys):
    """``validate`` on a table of its own: a clean table exits 0 and
    prints OK; a removed data file exits 1 with the missing-file error."""
    from datetime import datetime, timezone

    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter

    t1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    schema = TableSchema((ColumnDef("value", ColumnType.STRING, False),))
    w = TableWriter(spark, str(tmp_path / "t"), schema)
    w.add_segment(
        "s1", t1,
        base_df=spark.createDataFrame(
            [("k1", t1, "a"), ("k2", t1, "b")], schema.to_struct_type()
        ),
    )
    w.commit()
    out = run(capsys, "validate", "--path", str(tmp_path), "--table", "t")
    assert out.strip().endswith("OK")

    (victim,) = [f for f in os.listdir(tmp_path / "t") if f.endswith(".parquet")]
    os.remove(tmp_path / "t" / victim)
    assert main(["validate", "--path", str(tmp_path), "--table", "t"]) == 1
    out = capsys.readouterr().out
    assert f"ERROR: data file missing: {victim}" in out
    assert out.strip().endswith("INVALID")


def test_checkpoint_and_zorder(spark, lake, capsys):
    out = run(
        capsys,
        "checkpoint", "--path", lake, "--table", "financials",
        "--at", "2022-01-01T00:00:00Z",
    )
    assert "checkpointed financials" in out and "1 file(s) serve Current" in out
    out = run(capsys, "validate", "--path", lake, "--table", "financials")
    assert out.strip().endswith("OK")


def test_subprocess_entry_point(lake):
    """The real `python -m bazof_spark.cli` process (own JVM)."""
    proc = subprocess.run(
        [
            sys.executable, "-m", "bazof_spark.cli",
            "scan", "--path", lake, "--table", "table0", "--as-of",
            "2024-02-17T00:00:00",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=180,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "abc2" in proc.stdout


def test_write_parquet_overwrite_and_append(spark, lake, capsys, tmp_path):
    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0), ("b", "2024-01-02 00:00:00", 2.0)],
        "key string, event_time string, value double",
    ).selectExpr(
        "key", "CAST(event_time AS TIMESTAMP) AS event_time", "value"
    ).write.mode("overwrite").parquet(src)
    out = run(
        capsys, "write", "--path", lake, "--table", "wt",
        "--input", src, "--mode", "overwrite",
    )
    assert "version 1" in out
    out = run(
        capsys, "write", "--path", lake, "--table", "wt",
        "--input", src, "--mode", "append",
    )
    assert "version 2" in out
    out = run(capsys, "scan", "--path", lake, "--table", "wt")
    assert "a" in out and "b" in out


def test_evolve_subcommand(spark, lake, capsys):
    rc = main([
        "evolve", "--path", lake, "--table", "table0",
        "--add", "note:String",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "note:String" in out and "version 2" in out
    rc = main(["evolve", "--path", lake, "--table", "table0", "--drop", "note"])
    assert rc == 0
    assert "note" not in capsys.readouterr().out.split("version 3: ")[-1]
    with pytest.raises(SystemExit, match="bad --add"):
        main(["evolve", "--path", lake, "--table", "table0", "--add", "x:Nope"])


def test_stats_subcommand(spark, lake, capsys, tmp_path):
    # reference-authored table: no stats, every file admitted
    out = run(capsys, "stats", "--path", lake, "--table", "financials")
    assert "version 1" in out and "0 with key bounds" in out
    # repo-authored table: bounds + blooms present
    import datetime as dt

    from pyspark.sql import Row

    from bazof_spark.schema import ColumnDef, ColumnType, TableSchema
    from bazof_spark.writer import TableWriter

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    w = TableWriter(
        spark, str(tmp_path / "k"),
        TableSchema(columns=(
            ColumnDef(name="v", data_type=ColumnType.STRING, nullable=False),
        )),
    )
    seg = w.add_segment("s1", start=t0)
    seg.add_delta(
        spark.createDataFrame([Row(key="a", event_time=t0, v="x")]),
        start=t0, end=t0,
    )
    w.commit("1")
    out = run(capsys, "stats", "--path", str(tmp_path), "--table", "k")
    assert "1 with key bounds" in out and "1 with blooms" in out
    assert "m=1024" in out


def test_delete_subcommand(spark, lake, capsys):
    out = run(
        capsys, "delete", "--path", lake, "--table", "table0",
        "--keys", "1", "--at", "2024-06-01T00:00:00.000Z",
    )
    assert "deleted 1 keys" in out
    out = run(capsys, "scan", "--path", lake, "--table", "table0")
    assert "abc2" not in out and "xyz" in out
    # before the deletion instant the key is still visible
    out = run(
        capsys, "scan", "--path", lake, "--table", "table0",
        "--as-of", "2024-02-17T00:00:00",
    )
    assert "abc2" in out


def test_update_subcommand(spark, lake, capsys):
    out = run(
        capsys, "update", "--path", lake, "--table", "table0",
        "--set", "value = upper(value)", "--where", "key = '1'",
        "--at", "2024-06-01T00:00:00.000Z",
    )
    assert "published version" in out
    out = run(capsys, "scan", "--path", lake, "--table", "table0")
    assert "ABC2" in out and "xyz" in out
    # before the update instant the original casing is visible
    out = run(
        capsys, "scan", "--path", lake, "--table", "table0",
        "--as-of", "2024-02-17T00:00:00",
    )
    assert "abc2" in out
    # no-match predicate is a no-op
    out = run(
        capsys, "update", "--path", lake, "--table", "table0",
        "--set", "value = 'nope'", "--where", "key = 'zzz'",
    )
    assert "no-op" in out


def test_cli_decompress_sniffs_all_containers(tmp_path):
    """The decompress subcommand routes by magic to the stdlib/pyarrow
    codecs, without a Spark session; a corrupt input exits non-zero
    with a one-line message, not a traceback."""
    import bz2
    import gzip
    import lzma
    import subprocess
    import sys
    import zlib

    import pyarrow as pa

    raw = b"decoder family " * 300
    blobs = {
        "gz": gzip.compress(raw),
        "zz": zlib.compress(raw),
        "zst": pa.Codec("zstd").compress(raw).to_pybytes(),
        "xz": lzma.compress(raw, format=lzma.FORMAT_XZ),
        "lzma": lzma.compress(raw, format=lzma.FORMAT_ALONE),
        # preset 9 uses a 64 MiB dict — header bytes 1-3 are zero, the
        # case the low-bytes-nonzero sniff heuristic used to reject
        "lzma9": lzma.compress(raw, format=lzma.FORMAT_ALONE, preset=9),
        "bz2": bz2.compress(raw),
        "lz4": pa.Codec("lz4").compress(raw).to_pybytes(),
    }
    for ext, blob in blobs.items():
        src = tmp_path / f"f.{ext}"
        src.write_bytes(blob)
        out = tmp_path / f"f.{ext}.out"
        r = subprocess.run(
            [sys.executable, "-m", "bazof_spark.cli", "decompress",
             str(src), "--out", str(out)],
            capture_output=True, text=True,
            cwd="/root/repo",
        )
        assert r.returncode == 0, (ext, r.stderr[-300:])
        assert out.read_bytes() == raw, ext
    src = tmp_path / "cut.xz"
    src.write_bytes(blobs["xz"][:-4])
    r = subprocess.run(
        [sys.executable, "-m", "bazof_spark.cli", "decompress", str(src)],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode != 0
    lines = r.stderr.strip().splitlines()
    assert len(lines) == 1, r.stderr[-300:]
    assert lines[0].startswith(f"cannot decompress {src}: corrupt xz stream")


def test_cli_footer_parses_parquet(tmp_path):
    """The footer subcommand prints the from-spec parsed metadata as
    JSON, without a Spark session."""
    import json
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "bazof_spark.cli", "footer",
         "/root/testdata/sf0.001/region.parquet"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-300:]
    meta = json.loads(r.stdout)
    import pyarrow.parquet as pq

    ref = pq.ParquetFile("/root/testdata/sf0.001/region.parquet").metadata
    assert meta["num_rows"] == ref.num_rows
    assert len(meta["row_groups"]) == ref.num_row_groups


def test_cli_footer_page_index(tmp_path):
    """--page-index adds each chunk's parsed OffsetIndex/ColumnIndex."""
    import base64
    import json
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / "pi.parquet")
    pq.write_table(
        pa.table({"a": pa.array(range(5000), type=pa.int64())}),
        f, write_page_index=True, data_page_size=512, use_dictionary=False,
    )
    r = subprocess.run(
        [sys.executable, "-m", "bazof_spark.cli", "footer", f, "--page-index"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-300:]
    chunk = json.loads(r.stdout)["row_groups"][0]["columns"][0]
    oi, ci = chunk["offset_index"], chunk["column_index"]
    assert len(oi) > 1 and len(ci["min_values"]) == len(oi)
    assert oi[0]["first_row_index"] == 0
    assert base64.b64decode(ci["min_values"][0]) == (0).to_bytes(8, "little")


def test_cli_duckdb_sql_runs_in_duckdb(capsys, lake):
    """`duckdb-sql` prints a statement DuckDB executes directly,
    reproducing the reference financials golden at its as-of."""
    import duckdb

    sql = run(
        capsys, "duckdb-sql", "--path", lake, "--table", "financials",
        "--as-of", "2019-01-17T00:00:00.000Z",
    )
    top = duckdb.sql(
        f"SELECT key, revenue FROM ({sql}) WHERE industry = 'Software' "
        "ORDER BY revenue DESC LIMIT 1"
    ).fetchall()
    assert top == [("MSFT", 32471000000)]
    # --since switches to the change-feed statement
    cdf = run(
        capsys, "duckdb-sql", "--path", lake, "--table", "financials",
        "--since", "2019-01-17T00:00:00.000Z",
        "--until", "2020-06-01T00:00:00.000Z",
    )
    msft = duckdb.sql(
        f"SELECT change_type, revenue_early, revenue_late FROM ({cdf}) "
        "WHERE key = 'MSFT'"
    ).fetchall()
    assert msft == [("update", 32471000000, 38033000000)]


def test_cli_footer_add_blooms_and_probe(tmp_path):
    """`footer --add-blooms` gives a foreign file split-block blooms
    in place (atomic, idempotent); `--probe COL=VALUE` answers
    maybe/no per row group from the bloom alone."""
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / "b.parquet")
    pq.write_table(
        pa.table(
            {"key": [str((i * 7) % 1000) for i in range(1000)]}
        ),
        f, write_page_index=True, row_group_size=250,
    )

    def cli(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "bazof_spark.cli", "footer", f, *argv],
            capture_output=True, text=True, cwd="/root/repo",
        )
        assert r.returncode == 0, r.stderr[-300:]
        return r.stdout

    assert "added blooms for key" in cli("--add-blooms", "key")
    assert "no blooms added" in cli("--add-blooms", "key")  # idempotent
    probed = cli("--probe", "key=17").strip().splitlines()
    assert len(probed) == 4 and "maybe" in "".join(probed)
    absent = cli("--probe", "key=definitely-absent").strip().splitlines()
    assert all(line.endswith("no") for line in absent)
    # the patched file still reads identically
    assert pq.read_table(f).num_rows == 1000


def test_mirror_subcommand_bootstrap_and_incremental(spark, lake, capsys):
    """`mirror` applies a source's change-feed window onto a mirror
    table through the generic operators/cdc.apply_changes: first call
    bootstraps (full copy at --since) and applies the window in one
    atomic bump; a second call with a later window advances it. The
    mirror must equal the source at every probed instant."""
    from bazof_spark import Lakehouse

    # financials has a multi-version history with real timestamps
    lh = Lakehouse(spark, lake)
    t0, t1 = "2019-01-15T00:00:00.000Z", "2019-10-19T00:00:00.000Z"
    run(
        capsys, "mirror", "--path", lake, "--source", "financials",
        "--mirror", "fin_mirror", "--since", t0, "--until", t1,
    )
    run(
        capsys, "mirror", "--path", lake, "--source", "financials",
        "--mirror", "fin_mirror", "--since", t1,
    )

    def state(table, as_of=None):
        return {
            r["key"]: tuple(r)
            for r in lh.scan(table, as_of=as_of).collect()
        }

    for as_of in (t0, t1, None):
        assert state("financials", as_of) == state("fin_mirror", as_of)
