"""CLI mirroring `azof-cli` (crates/azof-cli/src/main.rs:28-59):

    python -m bazof_spark.cli scan --path P --table T [--as-of TS]
                                   [--keys a,b | --key-range LO..HI]
    python -m bazof_spark.cli gen  --path P --table T --file F
    python -m bazof_spark.cli sql  --path P --query "SELECT ..."
    python -m bazof_spark.cli changes --path P --table T --since TS [--until TS]
    python -m bazof_spark.cli upsert --path P --table T --file batch.csv
    python -m bazof_spark.cli restore --path P --table T --version N
    python -m bazof_spark.cli vacuum --path P --table T [--keep-versions K]
    python -m bazof_spark.cli stats --path P --table T [--version N]

`--as-of` accepts `YYYY-MM-DDTHH:mm:ss` (suffixed `.000Z` like the
reference, main.rs:101-119) or full RFC3339. `gen` converts
`{table}/{file}.csv` → `{table}/{file}.parquet` per the declared
snapshot schema (main.rs:61-99). `sql` is ours (the reference keeps SQL
in a separate crate's examples).
"""

from __future__ import annotations

import argparse
import re
import sys


def _parse_as_of(value: str | None):
    if value is None:
        return None
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}", value):
        value = value + ".000Z"  # reference's suffixing, main.rs:107
    return value


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="bazof-spark")
    parser.add_argument(
        "--lock-server",
        dest="lock_server",
        default=None,
        metavar="HOST:PORT",
        help="route every commit on the root's URI scheme through an "
        "out-of-process CAS lock service (bazof_spark.lockserver — run "
        "one with `python -m bazof_spark.lockserver`); requires a URI "
        "root (file:// or an object-store scheme) — plain local paths "
        "keep the built-in file-lock CAS and this flag is ignored",
    )
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_scan = sub.add_parser("scan", help="point-in-time scan of a table")
    p_scan.add_argument("--path", required=True, help="lakehouse root")
    p_scan.add_argument("--table", required=True)
    p_scan.add_argument("--as-of", dest="as_of", default=None)
    p_scan.add_argument(
        "--version", default=None, help="snapshot version (system travel)"
    )
    p_scan.add_argument("--columns", default=None, help="comma-separated")
    p_scan.add_argument(
        "--keys",
        default=None,
        help="comma-separated exact keys: point lookup through the "
        "file-level stats (zone-map bounds + key blooms)",
    )
    p_scan.add_argument(
        "--key-range",
        dest="key_range",
        default=None,
        help="LO..HI inclusive (either side empty = unbounded), pruned "
        "via zone-map bounds",
    )
    p_scan.add_argument("--limit", type=int, default=20)

    p_gen = sub.add_parser("gen", help="csv → parquet per table schema")
    p_gen.add_argument("--path", required=True)
    p_gen.add_argument("--table", required=True)
    p_gen.add_argument("--file", required=True, help="file stem (no extension)")

    p_sql = sub.add_parser("sql", help="SQL incl. AT()/FOR SYSTEM_TIME AS OF")
    p_sql.add_argument("--path", required=True)
    p_sql.add_argument("--query", required=True)
    p_sql.add_argument("--limit", type=int, default=20)

    p_ck = sub.add_parser(
        "checkpoint", help="compact: merged-state base + archived history"
    )
    p_ck.add_argument("--path", required=True)
    p_ck.add_argument("--table", required=True)
    p_ck.add_argument("--at", required=True, help="checkpoint time (RFC3339)")
    p_ck.add_argument(
        "--cluster-by",
        help="comma-separated columns: write the base Z-ordered over "
        "them (OPTIMIZE ZORDER analog) for multi-column row-group "
        "skipping",
    )

    p_val = sub.add_parser("validate", help="snapshot + data-file invariants")
    p_val.add_argument("--path", required=True)
    p_val.add_argument("--table", required=True)

    p_st = sub.add_parser(
        "stats",
        help="per-file zone-map stats (key bounds, event-time bounds, "
        "bloom) — what the pruning rules see",
    )
    p_st.add_argument("--path", required=True)
    p_st.add_argument("--table", required=True)
    p_st.add_argument(
        "--version", default=None, help="snapshot version (default: current)"
    )

    p_ch = sub.add_parser(
        "changes", help="change feed between two as-of instants"
    )
    p_ch.add_argument("--path", required=True)
    p_ch.add_argument("--table", required=True)
    p_ch.add_argument("--since", required=True)
    p_ch.add_argument("--until", default=None, help="default: Current")
    p_ch.add_argument("--columns", default=None, help="comma-separated")
    p_ch.add_argument(
        "--keys",
        default=None,
        help="comma-separated: restrict the feed to these keys "
        "(stats-pruned like scan --keys)",
    )
    p_ch.add_argument("--limit", type=int, default=20)

    p_mi = sub.add_parser(
        "mirror",
        help="apply a source table's change-feed window onto a mirror "
        "table (bootstraps the mirror at --since if absent; one atomic "
        "version bump per window)",
    )
    p_mi.add_argument("--path", required=True)
    p_mi.add_argument("--source", required=True)
    p_mi.add_argument("--mirror", required=True, help="mirror table name")
    p_mi.add_argument("--since", required=True)
    p_mi.add_argument("--until", default=None, help="default: Current")

    p_up = sub.add_parser(
        "upsert", help="append a CSV batch as a new delta + snapshot version"
    )
    p_up.add_argument("--path", required=True)
    p_up.add_argument("--table", required=True)
    p_up.add_argument("--file", required=True, help="CSV file path")
    p_up.add_argument("--create-segment", action="store_true")

    p_del = sub.add_parser(
        "delete",
        help="tombstone-delete keys (time-travel-consistent DELETE)",
    )
    p_del.add_argument("--path", required=True)
    p_del.add_argument("--table", required=True)
    p_del.add_argument(
        "--keys", required=True, help="comma-separated keys to delete"
    )
    p_del.add_argument(
        "--at", default=None,
        help="deletion instant (RFC3339; default: now UTC)",
    )

    p_upd = sub.add_parser(
        "update",
        help="UPDATE rows (SET expressions over the Current winners)",
    )
    p_upd.add_argument("--path", required=True)
    p_upd.add_argument("--table", required=True)
    p_upd.add_argument(
        "--set", required=True, action="append", metavar="COL=EXPR",
        help="assignment (repeatable): column = SQL expression over the old row",
    )
    p_upd.add_argument("--where", default="", help="SQL predicate (default: all rows)")
    p_upd.add_argument(
        "--at", default=None,
        help="update instant (RFC3339; default: now UTC)",
    )

    p_wr = sub.add_parser(
        "write",
        help="parquet/CSV → azof table via the distributed two-phase sink",
    )
    p_wr.add_argument("--path", required=True)
    p_wr.add_argument("--table", required=True)
    p_wr.add_argument("--input", required=True, help="parquet or CSV path")
    p_wr.add_argument("--mode", choices=["overwrite", "append"], default="append")
    p_wr.add_argument("--num-files", type=int, default=None)
    p_wr.add_argument("--merge-schema", action="store_true")

    p_rs = sub.add_parser("restore", help="roll back to a previous snapshot")
    p_rs.add_argument("--path", required=True)
    p_rs.add_argument("--table", required=True)
    p_rs.add_argument("--version", required=True)

    p_vac = sub.add_parser("vacuum", help="GC unreferenced files/snapshots")
    p_vac.add_argument("--path", required=True)
    p_vac.add_argument("--table", required=True)
    p_vac.add_argument("--keep-versions", type=int, default=1)
    p_vac.add_argument("--dry-run", action="store_true")
    # retention window for UNREFERENCED files (seconds); 0 disables —
    # only safe when no writer can be mid-commit
    p_vac.add_argument("--min-age-s", type=float, default=None)

    p_hist = sub.add_parser("history", help="snapshot lineage")
    p_hist.add_argument("--path", required=True)
    p_hist.add_argument("--table", required=True)

    p_ev = sub.add_parser(
        "evolve",
        help="schema evolution (add/drop/rename columns metadata-only; "
        "widen Int->Float with a history-preserving rewrite)",
    )
    p_ev.add_argument("--path", required=True)
    p_ev.add_argument("--table", required=True)
    p_ev.add_argument(
        "--add",
        action="append",
        default=[],
        metavar="NAME:TYPE",
        help="nullable column to add (TYPE: String|Int|Boolean|DateTime|Float)",
    )
    p_ev.add_argument(
        "--drop", action="append", default=[], metavar="NAME",
        help="value column to drop",
    )
    p_ev.add_argument(
        "--rename", action="append", default=[], metavar="OLD:NEW",
        help="rename a value column (metadata-only; old files keep the "
        "former name on disk and readers coalesce)",
    )
    p_ev.add_argument(
        "--widen", action="append", default=[], metavar="NAME:TYPE",
        help="widen a column's type (Int:Float is the only rule; "
        "rewrites data files with the cast, history preserved)",
    )

    p_dc = sub.add_parser(
        "decompress",
        help="decode a compressed file (gzip/zlib/zstd/xz/.lzma/bz2/"
        "lz4-frame, sniffed by magic bytes) with the stdlib and pyarrow "
        "C codecs; no Spark session",
    )
    p_dc.add_argument("file")
    p_dc.add_argument("--out", help="output path (default: stdout)")

    p_dv = sub.add_parser(
        "duckdb-sql",
        help="print a standalone DuckDB SELECT reproducing the as-of "
        "merge over the table's parquet files (interop.duckdb_view_sql)"
        " — query the lakehouse from DuckDB with no Spark session",
    )
    p_dv.add_argument("--path", required=True, help="lakehouse root")
    p_dv.add_argument("--table", required=True)
    p_dv.add_argument("--as-of", dest="as_of")
    p_dv.add_argument("--version")
    p_dv.add_argument(
        "--columns", help="comma-separated value-column projection"
    )
    p_dv.add_argument(
        "--since",
        help="emit the CHANGE FEED between --since and --until "
        "(interop.duckdb_changes_sql) instead of a point-in-time view",
    )
    p_dv.add_argument("--until")

    p_ft = sub.add_parser(
        "footer",
        help="parse a parquet file's footer with the repo's from-spec "
        "thrift compact-protocol reader (operators/thriftcodec, field "
        "views in operators/parquetmeta) and "
        "print it as JSON; no Spark session",
    )
    p_ft.add_argument("file")
    p_ft.add_argument(
        "--page-index",
        action="store_true",
        help="also parse each chunk's OffsetIndex/ColumnIndex (the "
        "page-level zone maps predicate pushdown prunes with)",
    )
    p_ft.add_argument(
        "--probe",
        metavar="COL=VALUE",
        help="probe each row group's split-block bloom filter for "
        "VALUE (from-spec xxh64 + parquet bloom layout, "
        "operators/parquetbloom): prints maybe/no per group — 'no' "
        "groups are skippable without reading a data byte",
    )
    p_ft.add_argument(
        "--add-blooms",
        metavar="COLS",
        help="append split-block bloom filters for the comma-"
        "separated columns to the file IN PLACE (atomic tmp+rename; "
        "footer rewritten via the byte-identical thrift round-trip "
        "codec) — gives any foreign parquet file bloom-accelerated "
        "point lookups in every engine that probes them",
    )

    args = parser.parse_args(argv)

    if args.lock_server:
        host, _, port = args.lock_server.rpartition(":")
        if not host or not port.isdigit():
            raise SystemExit(
                f"bad --lock-server {args.lock_server!r} (want HOST:PORT)"
            )
        if "://" in args.path:
            from bazof_spark.lockserver import register_lockserver_guard

            register_lockserver_guard(
                args.path.split("://", 1)[0], host, int(port)
            )
        else:
            # plain local roots already commit through the O_EXCL
            # file-lock CAS; the network guard adds nothing there
            print(
                "--lock-server ignored: local roots use the built-in "
                "file-lock CAS (use a file:// or object-store URI root "
                "to route commits through the server)",
                file=sys.stderr,
            )

    if args.cmd == "decompress":
        # pure byte work through the stdlib/pyarrow codecs — no Spark
        data = open(args.file, "rb").read()
        from bazof_spark.operators.codecs import sniff_decompress

        try:
            fmt, out = sniff_decompress(data)
        except ValueError as exc:
            raise SystemExit(
                f"cannot decompress {args.file}: {exc}"
            ) from exc
        if args.out:
            with open(args.out, "wb") as fh:
                fh.write(out)
            print(f"{fmt}: {len(data)} -> {len(out)} bytes ({args.out})")
        else:
            sys.stdout.buffer.write(out)
        return 0

    if args.cmd == "duckdb-sql":
        # pure metadata resolution — no Spark session needed
        from bazof_spark import iofs
        from bazof_spark.interop import duckdb_changes_sql, duckdb_view_sql

        cols = (
            [c.strip() for c in args.columns.split(",") if c.strip()]
            if args.columns
            else None
        )
        tpath = iofs.join(args.path, args.table)
        if args.since:
            print(
                duckdb_changes_sql(
                    tpath, args.since, until=args.until, columns=cols
                )
            )
        else:
            print(
                duckdb_view_sql(
                    tpath,
                    as_of=args.as_of,
                    version=args.version,
                    columns=cols,
                )
            )
        return 0

    if args.cmd == "footer":
        # pure byte work through the from-spec thrift reader — no Spark
        import base64
        import json as _json

        from bazof_spark.operators.parquetmeta import (
            parse_column_index,
            parse_offset_index,
            parse_parquet_footer,
        )

        if getattr(args, "add_blooms", None):
            import os as _os
            import uuid as _uuid

            from bazof_spark.operators.parquetbloom import (
                append_blooms_bytes,
            )

            cols = tuple(
                c.strip() for c in args.add_blooms.split(",") if c.strip()
            )
            data = open(args.file, "rb").read()
            patched = append_blooms_bytes(data, cols)
            if patched is data:
                print("no blooms added (columns absent or already bloomed)")
                return 0
            tmp = f"{args.file}.bloom-{_uuid.uuid4().hex}"
            with open(tmp, "wb") as fh:
                fh.write(patched)
            _os.replace(tmp, args.file)
            print(
                f"added blooms for {','.join(cols)}: "
                f"{len(data)} -> {len(patched)} bytes"
            )
            return 0

        data = open(args.file, "rb").read()
        meta = parse_parquet_footer(data)
        if getattr(args, "probe", None):
            from bazof_spark.operators.parquetbloom import (
                might_contain,
                parse_bloom_blob,
                plain_encoded,
                xxh64,
            )

            col, _, raw_val = args.probe.partition("=")
            for gi, g in enumerate(meta["row_groups"]):
                chunk = next(
                    (
                        c
                        for c in g["columns"]
                        if c["path_in_schema"] == [col]
                    ),
                    None,
                )
                if chunk is None:
                    print(f"rg {gi}: no column {col!r}")
                    continue
                off = chunk.get("bloom_filter_offset")
                ln = chunk.get("bloom_filter_length")
                if not off or not ln:
                    print(f"rg {gi}: no bloom")
                    continue
                ptype = chunk.get("type")
                value: object = raw_val
                if ptype in ("INT32", "INT64"):
                    value = int(raw_val)
                elif ptype in ("FLOAT", "DOUBLE"):
                    value = float(raw_val)
                enc = plain_encoded(value, ptype)
                if enc is None:
                    print(f"rg {gi}: type {ptype} not probeable")
                    continue
                hit = might_contain(
                    parse_bloom_blob(data[off : off + ln]), xxh64(enc)
                )
                print(f"rg {gi}: {'maybe' if hit else 'no'}")
            return 0
        if args.page_index:
            for g in meta["row_groups"]:
                for chunk in g["columns"]:
                    chunk["offset_index"] = parse_offset_index(data, chunk)
                    chunk["column_index"] = parse_column_index(data, chunk)

        def _enc(v):
            if isinstance(v, bytes):
                return base64.b64encode(v).decode("ascii")
            raise TypeError(type(v).__name__)

        print(_json.dumps(meta, indent=1, default=_enc))
        return 0

    if args.cmd == "stats":
        # pure metadata walk — no Spark session needed
        from bazof_spark import iofs
        from bazof_spark.table import Table

        t = Table(path=iofs.join(args.path, args.table), name=args.table)
        version = args.version or t.current_version()
        snap = t.get_snapshot(str(version))
        print(f"table {args.table} @ version {version}")
        hdr = f"{'file':<28} {'kind':<6} {'key_min':<14} {'key_max':<14} " \
              f"{'ts_min':<20} {'ts_max':<20} bloom"
        print(hdr)

        def _ts_s(v):
            return v.strftime("%Y-%m-%dT%H:%M:%S") if v else "-"

        def walk(seg):
            for sub_seg in seg.segments:
                walk(sub_seg)
            for d in seg.delta:
                bloom = f"m={d.key_bloom.m},k={d.key_bloom.k}" \
                    if d.key_bloom else "-"
                print(f"{d.file:<28} {'delta':<6} {d.key_min or '-':<14} "
                      f"{d.key_max or '-':<14} {_ts_s(d.ts_min):<20} "
                      f"{_ts_s(d.ts_max):<20} {bloom}")
            if seg.file is not None:
                bloom = f"m={seg.key_bloom.m},k={seg.key_bloom.k}" \
                    if seg.key_bloom else "-"
                print(f"{seg.file:<28} {'base':<6} {seg.key_min or '-':<14} "
                      f"{seg.key_max or '-':<14} {_ts_s(seg.ts_min):<20} "
                      f"{_ts_s(seg.ts_max):<20} {bloom}")

        for s in snap.segments:
            walk(s)
        stats = snap.file_key_stats()
        with_bounds = sum(1 for lo, _, _ in stats.values() if lo is not None)
        with_bloom = sum(1 for _, _, b in stats.values() if b is not None)
        print(
            f"{len(stats)} files: {with_bounds} with key bounds, "
            f"{with_bloom} with blooms (files without stats are always "
            f"admitted by pruning)"
        )
        return 0

    from bazof_spark.lakehouse import Lakehouse
    from bazof_spark.session import get_spark

    spark = get_spark(app_name="bazof-cli")
    spark.sparkContext.setLogLevel("ERROR")
    lh = Lakehouse(spark, args.path)

    if args.cmd == "scan":
        cols = args.columns.split(",") if args.columns else None
        key_range = None
        if args.key_range is not None:
            lo, sep, hi = args.key_range.partition("..")
            if not sep:
                parser.error("--key-range must be LO..HI")
            key_range = (lo or None, hi or None)
        df = lh.scan(
            args.table,
            as_of=_parse_as_of(args.as_of),
            columns=cols,
            version=args.version,
            keys=args.keys.split(",") if args.keys else None,
            key_range=key_range,
        )
        df.show(args.limit, truncate=False)
    elif args.cmd == "gen":
        import os

        from bazof_spark.writer import csv_to_dataframe, dataframe_to_parquet_file

        table = lh.table(args.table)
        schema = table.get_current_snapshot().schema
        src = os.path.join(table.path, f"{args.file}.csv")
        dest = os.path.join(table.path, f"{args.file}.parquet")
        df = csv_to_dataframe(spark, src, schema)
        dataframe_to_parquet_file(df, dest)
        print(f"wrote {dest}")
    elif args.cmd == "sql":
        lh.sql(args.query).show(args.limit, truncate=False)
    elif args.cmd == "changes":
        cols = args.columns.split(",") if args.columns else None
        df = lh.scan_changes(
            args.table,
            since=_parse_as_of(args.since),
            until=_parse_as_of(args.until),
            columns=cols,
            keys=args.keys.split(",") if args.keys else None,
        )
        df.show(args.limit, truncate=False)
    elif args.cmd == "checkpoint":
        from datetime import datetime

        from bazof_spark.maintenance import checkpoint_table

        at = datetime.fromisoformat(args.at.replace("Z", "+00:00"))
        if args.cluster_by:
            from bazof_spark.maintenance import optimize_table

            snapshot = optimize_table(
                lh, args.table, at=at, cluster_by=args.cluster_by.split(",")
            )
        else:
            snapshot = checkpoint_table(lh, args.table, at=at)
        print(
            f"checkpointed {args.table} at {args.at}: "
            f"version {lh.table(args.table).current_version()}, "
            f"{len(snapshot.get_data_files())} file(s) serve Current"
        )
    elif args.cmd == "validate":
        from bazof_spark.maintenance import validate_table

        report = validate_table(lh, args.table)
        for e in report.errors:
            print(f"ERROR: {e}")
        for w_ in report.warnings:
            print(f"warning: {w_}")
        print("OK" if report.ok else "INVALID")
        return 0 if report.ok else 1
    elif args.cmd == "mirror":
        from bazof_spark.operators.cdc import apply_changes

        table = lh.table(args.mirror)
        apply_changes(
            spark,
            lh,
            args.source,
            table.path,
            since=_parse_as_of(args.since),
            until=_parse_as_of(args.until),
        )
        print(
            f"applied {args.source} changes "
            f"[{args.since} → {args.until or 'Current'}] onto "
            f"{args.mirror}: version {table.current_version()}"
        )
    elif args.cmd == "upsert":
        from bazof_spark.writer import csv_to_dataframe

        table = lh.table(args.table)
        schema = table.get_current_snapshot().schema
        df = csv_to_dataframe(spark, args.file, schema)
        lh.upsert(args.table, df, create_segment=args.create_segment)
        print(
            f"upserted {args.file} into {args.table}: "
            f"version {table.current_version()}"
        )
    elif args.cmd == "delete":
        from bazof_spark.asof import parse_rfc3339
        from bazof_spark.writer import delete_keys

        table = lh.table(args.table)
        ks = [k for k in args.keys.split(",") if k]
        delete_keys(
            spark,
            table.path,
            ks,
            at=parse_rfc3339(args.at) if args.at else None,
            create_segment=True,
        )
        print(
            f"deleted {len(ks)} keys from {args.table}: "
            f"version {table.current_version()}"
        )
    elif args.cmd == "update":
        from bazof_spark.asof import parse_rfc3339

        sets = {}
        for a in args.set:
            col, _, expr = a.partition("=")
            if not _:
                raise SystemExit(f"--set expects COL=EXPR, got {a!r}")
            sets[col.strip()] = expr.strip()
        did = lh.update(
            args.table,
            sets,
            where=args.where,
            at=parse_rfc3339(args.at) if args.at else None,
        )
        print(
            f"update {'published version ' + lh.table(args.table).current_version() if did else 'matched no rows (no-op)'}"
        )
    elif args.cmd == "write":
        from bazof_spark.datasource import write_table
        from bazof_spark.writer import csv_to_dataframe

        if args.input.endswith(".csv"):
            schema = (
                lh.table(args.table).get_current_snapshot().schema
                if args.mode == "append"
                else None
            )
            if schema is None:
                raise SystemExit(
                    "CSV overwrite needs an existing table schema; "
                    "write parquet or create the table first"
                )
            df = csv_to_dataframe(spark, args.input, schema)
        else:
            df = spark.read.parquet(args.input)
        write_table(
            df,
            args.path,
            args.table,
            mode=args.mode,
            num_files=args.num_files,
            merge_schema=args.merge_schema,
        )
        print(
            f"wrote {args.input} into {args.table} ({args.mode}): "
            f"version {lh.table(args.table).current_version()}"
        )
    elif args.cmd == "restore":
        from bazof_spark.maintenance import restore_table

        restore_table(lh, args.table, args.version)
        print(
            f"restored {args.table} to snapshot {args.version} "
            f"(republished as version "
            f"{lh.table(args.table).current_version()})"
        )
    elif args.cmd == "vacuum":
        from bazof_spark.maintenance import vacuum_table

        kwargs = {}
        if args.min_age_s is not None:
            kwargs["min_age_s"] = args.min_age_s
        result = vacuum_table(
            lh,
            args.table,
            keep_versions=args.keep_versions,
            dry_run=args.dry_run,
            **kwargs,
        )
        verb = "would remove" if args.dry_run else "removed"
        print(
            f"{verb} {len(result['removed_files'])} data file(s), "
            f"{len(result['removed_snapshots'])} snapshot(s), "
            f"{len(result['removed_dirs'])} temp dir(s); "
            f"kept versions {', '.join(result['kept_versions'])}"
        )
    elif args.cmd == "history":
        for h in lh.history(args.table):
            mark = "*" if h["is_current"] else " "
            print(
                f"{mark} v{h['version']}: {h['n_top_segments']} segment(s), "
                f"{h['n_files_current']} file(s) serve Current, "
                f"{h['n_columns']} column(s)"
            )
    elif args.cmd == "evolve":
        from bazof_spark.maintenance import evolve_table_schema
        from bazof_spark.schema import ColumnDef, ColumnType

        add = []
        for spec in args.add:
            try:
                name, type_name = spec.split(":", 1)
                add.append(ColumnDef(name, ColumnType(type_name), True))
            except ValueError as exc:
                raise SystemExit(
                    f"bad --add {spec!r} (want NAME:TYPE with TYPE one of "
                    f"{[t.value for t in ColumnType]}): {exc}"
                ) from exc
        rename = {}
        for spec in args.rename:
            try:
                old, new = spec.split(":", 1)
                rename[old] = new
            except ValueError as exc:
                raise SystemExit(
                    f"bad --rename {spec!r} (want OLD:NEW): {exc}"
                ) from exc
        widen = {}
        for spec in args.widen:
            try:
                name, type_name = spec.split(":", 1)
                widen[name] = ColumnType(type_name)
            except ValueError as exc:
                raise SystemExit(
                    f"bad --widen {spec!r} (want NAME:TYPE with TYPE one "
                    f"of {[t.value for t in ColumnType]}): {exc}"
                ) from exc
        snapshot = evolve_table_schema(
            lh, args.table, add=add, drop=args.drop,
            rename=rename, widen=widen,
        )
        cols = ", ".join(
            f"{c.name}:{c.data_type.value}" for c in snapshot.schema.columns
        )
        print(
            f"evolved {args.table} to version "
            f"{lh.table(args.table).current_version()}: {cols}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
