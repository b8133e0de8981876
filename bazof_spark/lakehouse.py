"""Lakehouse: point-in-time scan + time-travel SQL over azof-format tables.

Reference: crates/azof/src/lakehouse.rs (scan) and
crates/azof-datafusion/src/{context.rs,lib.rs} (SQL surface). The
reference's scan is a single-threaded, row-at-a-time merge into one
in-memory RecordBatch (lakehouse.rs:40-85) wrapped in a 1-partition
DataFusion node (lib.rs:199-204). Here the same semantics are declared as
DataFrame operations and Catalyst/Tungsten execute them distributed:

1. version + snapshot resolution, temporal and key file pruning —
   driver-side Python, O(metadata), no Spark jobs (like Delta log file
   skipping, or Photon planning file skips from table metadata). This
   is ``datasource.plan_scan``, the planner the ``format("bazof")``
   reader runs too; its ``ScanPlan`` picks the read route before any
   byte range is planned;
2. ONE ``spark.read.parquet(*pruned_files)`` — vectorized reader,
   parallel across files/row-groups, column pruning pushed down from the
   projection, ``event_time <= t`` pushed to row-group stats. On an
   object-store root the JVM may lack the scheme's connector, so the
   driver instead splits the pruned files into byte ranges and ONE
   ``spark.range(n).mapInArrow`` reads them, a pyarrow read per range
   with the projection, as-of bound and key predicate applied in the
   reader (``datasource.read_file_range``, the Data Source reader's
   own per-task read) — executors get only the scan. A ``keys=``
   lookup whose ranked files fit the broadcast threshold skips
   steps 2-4 on the cluster: the driver reads the files' byte ranges
   with the same reader and merges them in Arrow
   (``_latest_per_key_arrow``), so the lookup runs no Spark job;
3. file precedence (crates/azof/src/metadata.rs:47-73 — child segments
   shadow parents, newer deltas shadow older, deltas shadow base) is
   attached as a ``_rank`` column mapped from ``input_file_name()``;
4. latest-version-per-key dedup = ``groupBy(key).agg(max_by(values,
   struct(-rank, event_time)))`` — an aggregate with map-side partial
   combine, i.e. ONE shuffle of pre-combined partials. At 100 TB this
   beats a window (``row_number() over (partition by key ...)``), which
   must shuffle + sort EVERY row: here only per-partition winners cross
   the wire. (Engine note: struct-valued max_by buffers aren't
   hash-aggregable, so Spark plans SortAggregate — a per-partition sort
   on key before the partial agg; the shuffle-volume win stands, as
   ``.explain`` shows partial_max_by before the single Exchange.)
   AQE handles skewed keys.

Tie-break note: within one file at equal (key, event_time) the reference
keeps the physically-first row (lakehouse.rs:54-79). This is NOT a
theoretical case — the reference's own financials data ships 5 duplicate
(key, event_time) pairs with different values in year_2019_q2_delta — so
the scan reads ``_metadata.row_index`` (per-file physical position,
costless column from the reader) and breaks ties on it inside the same
``max_by``, reproducing the reference bit-for-bit.

Precedence-struct note: the ``max_by`` ordering used here is
``bazof_spark.ordering.latest_wins_ordering("batch")``, and the driver
merge sorts by its Arrow twin ``LATEST_WINS_SORT_KEYS`` — the
native STREAM reader's ``_rank`` has the opposite convention (snapshot
version, higher = newer); see ``ordering.py`` for both recipes.
"""

from __future__ import annotations

import functools
import os
import urllib.parse
from datetime import datetime
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bazof_spark import iofs
from bazof_spark.asof import AsOf, coerce_as_of
from bazof_spark.errors import MetadataError, TableNotFoundError
from bazof_spark.metadata import Snapshot
from bazof_spark.projection import Projection, coerce_projection
from bazof_spark.schema import EVENT_TIME_COL, KEY_COL
from bazof_spark.sql import rewrite_and_extract_tables
from bazof_spark.table import Table

# Above this many pruned files, map file→rank via a broadcast join instead
# of a literal CASE/map expression (keeps the plan small for huge tables).
_RANK_MAP_LITERAL_MAX = 512

#: versioned-temp-view provenance: view name → the lakehouse root that
#: registered it. Temp views are Spark-session-global while lakehouses
#: are root-scoped; without this, two Lakehouse instances sharing a
#: table name in one session would silently read each other's pinned
#: `name__<millis>` / `FOR VERSION AS OF` views.
_VERSIONED_VIEW_ROOTS: dict[str, str] = {}


def _normalize_file_uri(path: str) -> str:
    """Normalize a path/URI into the SAME canonical form
    :func:`_normalized_input_file_sql` computes in SQL, so the two sides
    join. Canonical form: local/file → scheme-less path without leading
    slashes (``file:///a/b``, ``file:/a/b``, ``/a/b`` → ``a/b``);
    remote → ``scheme://rest`` with leading slashes collapsed and
    percent-encoding decoded (``s3a://b//k%20x`` → ``s3a://b/k x``).
    Kept line-for-line congruent with the SQL twin — change both
    together (tests/test_uri_rank.py pins the congruence)."""
    import re

    p = urllib.parse.unquote(path)
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:/+", p)
    if m is None:  # plain local path (input_file_name never emits these)
        return os.path.abspath(p).lstrip("/")
    scheme_m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", p)
    scheme = scheme_m.group(1) if scheme_m else ""
    rest = p[m.end():]
    if scheme in ("file", ""):
        return rest
    return f"{scheme}://{rest}"


# strip scheme + collapse leading slashes: file:///a/b → a/b, s3a://b/k → s3a://b/k
def _normalized_input_file_sql(base_sql: str = "input_file_name()") -> str:
    """Normalization as ONE SQL expression text (opt round 1: the
    Column-by-Column build cost ~96 py4j round trips per scan; the
    parsed text is the identical analyzed tree in one). ``base_sql`` is
    the SQL text of the input column (a literal spelling via
    :func:`_sql_str` in tests).

    Semantics, kept line-for-line congruent with
    :func:`_normalize_file_uri` (tests/test_uri_rank.py pins it):
    url_decode treats '+' as an encoded space (form semantics); URIs
    percent-encode spaces as %20 and leave literal '+' alone, so '+' is
    protected first — a '+'-named file must not decode to ' '. Then
    file:→scheme-less, scheme-less→leading slashes stripped (the
    driver-side abspath().lstrip('/')), remote→scheme://rest."""
    dec = f"url_decode(regexp_replace({base_sql}, '\\\\+', '%2B'))"
    scheme = f"regexp_extract({dec}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)"
    rest = f"regexp_replace({dec}, '^[A-Za-z][A-Za-z0-9+.-]*:/+', '')"
    return (
        f"CASE WHEN {scheme} = 'file' THEN {rest} "
        f"WHEN {scheme} = '' THEN regexp_replace({rest}, '^/+', '') "
        f"ELSE concat({scheme}, '://', {rest}) END"
    )


def _sql_str(s: str) -> str:
    """Escape a Python string into a Spark SQL single-quoted literal
    (backslash and quote escaped — default parser semantics, i.e.
    ``spark.sql.parser.escapedStringLiterals=false``)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


#: SQL spelling of each pushed comparison op (``isin`` renders as IN)
_SQL_COMPARATORS = {
    "equal": "=",
    "greater": ">",
    "greater_equal": ">=",
    "less": "<",
    "less_equal": "<=",
}


def _map_sql(entries: dict[str, int]) -> str:
    """A ``map(k1, v1, ...)`` SQL literal of string keys to ints."""
    return "map(" + ", ".join(
        f"{_sql_str(k)}, {r}" for k, r in entries.items()
    ) + ")"


def _uri_variants(path: str) -> set[str]:
    """Every spelling ``input_file_name()`` might emit for this path, so
    the per-row rank attachment is ONE map lookup on the raw value (the
    decode+regex normalization stays only as a lazy fallback)."""
    out = {path}
    if "://" not in path:
        ap = os.path.abspath(path)
        out.update({ap, "file:" + ap, "file://" + ap})
        try:
            import pathlib

            out.add(pathlib.Path(ap).as_uri())  # file:/// percent-encoded
        except ValueError:  # pragma: no cover - non-absolute edge
            pass
    return out


class Lakehouse:
    """A root path containing table directories
    (crates/azof/src/lakehouse.rs:19-27)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- metadata -----------------------------------------------------

    def table(self, name: str) -> Table:
        if "://" in self.root:
            path = self.root.rstrip("/") + "/" + name
        else:
            path = os.path.join(self.root, name)
        return Table(path=path, name=name)

    def has_table(self, name: str) -> bool:
        t = self.table(name)
        try:
            t.current_version()
            return True
        except TableNotFoundError:
            return False

    def list_tables(self) -> list[str]:
        if "://" in self.root:
            from pyarrow import fs as pafs

            filesystem, rel = pafs.FileSystem.from_uri(self.root)
            infos = filesystem.get_file_info(
                pafs.FileSelector(rel, allow_not_found=True)
            )
            names = [i.base_name for i in infos if i.type == pafs.FileType.Directory]
        else:
            names = [
                d
                for d in os.listdir(self.root)
                if os.path.isdir(os.path.join(self.root, d))
            ]
        return sorted(n for n in names if self.has_table(n))

    # -- scan (the core operator) ------------------------------------

    def scan(
        self,
        table_name: str,
        as_of: AsOf | datetime | str | None = None,
        columns: Iterable[str] | Projection | None = None,
        version: str | int | None = None,
        keys: Iterable[str] | None = None,
        key_range: tuple[str | None, str | None] | None = None,
    ) -> DataFrame:
        """Point-in-time merge scan → DataFrame
        (reference: crates/azof/src/lakehouse.rs:29-86). Lazy, except
        for a ``keys=`` lookup whose ranked files' bytes fit
        ``spark.sql.autoBroadcastJoinThreshold`` (``-1`` = never): that
        one is read and merged on the driver, here, and comes back as
        a local relation whose ``collect()`` runs no Spark job.

        ``version`` selects a specific snapshot (Delta-style system
        version travel — our extension; the reference only resolves the
        current pointer, crates/azof/src/table.rs:35-41). ``as_of``
        still applies within that snapshot.

        ``keys`` (exact key set) / ``key_range`` ((lo, hi) inclusive,
        None = unbounded side) restrict the scan to those keys — and,
        on snapshots whose files carry zone-map bounds
        (metadata.Delta.key_min/key_max, written at commit time since
        round 5), prune non-overlapping FILES at metadata time, so a
        selective key lookup on a key-clustered table reads O(matching
        files), not O(all in-range files). Merge-safe by construction:
        a pruned file cannot contain any requested key, so per-key
        winners are unchanged. The same row predicate is also applied
        in the scan, pushed to parquet row-group stats (or, on the
        driver and object-store reads, to page indexes and rows in the
        per-range reader).

        Output columns follow the reference's ordering rules: key,
        event_time, then declared value columns, each only if projected
        (crates/azof/src/schema.rs:148-171).
        """
        as_of = coerce_as_of(as_of)
        projection = coerce_projection(columns)
        if keys is not None and key_range is not None:
            raise ValueError("pass keys= or key_range=, not both")
        # the key predicate as pushed (op, column, value) triples — the
        # one encoding every route prunes, reads and filters by
        pushed: list[tuple[str, str, object]] = []
        if keys is not None:
            key_values = tuple(sorted({str(k) for k in keys}))
            if not key_values:
                raise MetadataError("empty key set for scan(keys=...)")
            pushed.append(("isin", KEY_COL, key_values))
        elif key_range is not None:
            for op, bound in zip(("greater_equal", "less_equal"), key_range):
                if bound is not None:
                    pushed.append((op, KEY_COL, bound))
        table = self.table(table_name)
        # ONE snapshot resolution per scan: pruning, task planning and
        # the broadcast-size decision all read this snapshot
        snapshot = table.get_snapshot(
            str(version) if version is not None else table.current_version()
        )
        return self.scan_snapshot(table, snapshot, as_of, projection, pushed)

    def scan_changes(
        self,
        table_name: str,
        since: AsOf | datetime | str,
        until: AsOf | datetime | str | None = None,
        columns: Iterable[str] | Projection | None = None,
        keys: Iterable[str] | None = None,
        key_range: tuple[str | None, str | None] | None = None,
    ) -> DataFrame:
        """Change-data-feed between two as-of instants: every key whose
        winning version differs between ``since`` and ``until``
        (``None`` = Current). The reference leaves a change/streaming
        read on its roadmap (README.md:150-160); over an upsert log it
        is a full join of two as-of scans — keys appear (insert),
        change (update), or, on tables using the tombstone DELETE
        extension, disappear (delete; impossible on append-only tables,
        whose feeds are unchanged).

        Output: ``key``, ``change_type`` (``insert`` | ``update`` |
        ``delete``), ``event_time_early``/``event_time_late`` and each
        projected value column as ``<col>_early``/``<col>_late``
        (``delete`` rows carry the early values and a null late side).
        A key counts as changed when its (event_time, values) tuple
        differs null-safely — not event_time alone, since a segment
        becoming in-range can change the winner by file precedence
        (§4.2) without a newer timestamp.

        Scale: both sides are independently pruned scans joined on the
        table key; AQE broadcasts whichever as-of slice is small.
        ``keys``/``key_range`` restrict the feed to those keys with the
        same file-level stats pruning as :meth:`scan` (valid because
        the per-key diff depends only on that key's rows on both
        sides): "what changed for key X" reads O(matching files) per
        side, not two full scans.
        """
        # materialize once: the key iterable feeds BOTH side scans
        if keys is not None:
            keys = list(keys)
        # the diff always needs key + event_time, whatever the caller
        # projects (like the reference's merge itself,
        # crates/azof/src/lakehouse.rs:98-109)
        if isinstance(columns, Projection):
            if not columns.is_all:
                columns = Projection.of(
                    columns.columns | {KEY_COL, EVENT_TIME_COL}
                )
        elif columns is not None:
            cols = list(columns)
            columns = list(
                dict.fromkeys([KEY_COL, EVENT_TIME_COL, *cols])
            )
        early = self.scan(
            table_name, as_of=since, columns=columns,
            keys=keys, key_range=key_range,
        )
        late = self.scan(
            table_name, as_of=until, columns=columns,
            keys=keys, key_range=key_range,
        )
        value_cols = [
            c for c in late.columns if c not in (KEY_COL, EVENT_TIME_COL)
        ]

        def _tagged(df: DataFrame, tag: str) -> DataFrame:
            return df.select(
                KEY_COL,
                F.col(EVENT_TIME_COL).alias(f"{EVENT_TIME_COL}_{tag}"),
                *[F.col(c).alias(f"{c}_{tag}") for c in value_cols],
            )

        # join type follows the table's delete capability: on tables
        # with tombstone deltas a key can DISAPPEAR in the window, which
        # only a FULL join can report — but a full outer join cannot
        # broadcast (SMJ both sides), so append-only tables (every
        # reference-authored table; keys never vanish there) keep the
        # LEFT join and its broadcastable early side, the exact
        # pre-extension plan.
        has_deletes = bool(
            self.table(table_name).get_current_snapshot().tombstone_files()
        )
        j = _tagged(late, "late").join(
            _tagged(early, "early"), KEY_COL, "full" if has_deletes else "left"
        )
        def _version_struct(tag: str) -> F.Column:
            # identical inner field names so the struct types compare
            return F.struct(
                F.col(f"{EVENT_TIME_COL}_{tag}").alias(EVENT_TIME_COL),
                *[F.col(f"{c}_{tag}").alias(c) for c in value_cols],
            )

        early_struct = _version_struct("early")
        late_struct = _version_struct("late")
        is_insert = F.col(f"{EVENT_TIME_COL}_early").isNull()
        is_delete = F.col(f"{EVENT_TIME_COL}_late").isNull()
        return j.filter(
            is_insert | is_delete | ~late_struct.eqNullSafe(early_struct)
        ).select(
            KEY_COL,
            F.when(is_insert, F.lit("insert"))
            .when(is_delete, F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            f"{EVENT_TIME_COL}_early",
            f"{EVENT_TIME_COL}_late",
            *[f"{c}_early" for c in value_cols],
            *[f"{c}_late" for c in value_cols],
        )

    def scan_snapshot(
        self,
        table: Table,
        snapshot: Snapshot,
        as_of: AsOf,
        projection: Projection,
        pushed=(),
    ) -> DataFrame:
        """The merge scan of an already-resolved snapshot, restricted by
        the ``pushed`` ``(op, column, value)`` key predicates. The route
        is chosen from the :class:`datasource.ScanPlan` before any byte
        range is planned: no ranked file → an empty local relation; a
        keyed lookup whose files fit the broadcast threshold → the
        driver read; an object-store root → ``mapInArrow``; otherwise
        the JVM parquet scan."""
        from bazof_spark.datasource import broadcast_threshold, plan_scan

        out_cols = snapshot.schema.output_columns(projection)
        # value columns we must read: projected ones (key/event_time are
        # always read — the merge needs them, as in the reference's
        # ProjectionMask, crates/azof/src/lakehouse.rs:98-109)
        value_cols = [
            c.name
            for c in snapshot.schema.columns
            if projection.contains(c.name)
        ]
        plan = plan_scan(
            table, snapshot, as_of, value_cols, pushed, iofs.env_snapshot()
        )
        if not plan.files:
            # an empty Arrow table plans a LocalRelation (no Spark job at
            # collect); an empty row list would plan an RDD scan
            from pyspark.sql.pandas.types import to_arrow_schema

            struct = snapshot.schema.to_struct_type(projection)
            return self.spark.createDataFrame(
                to_arrow_schema(struct).empty_table(), struct
            )
        # keyed lookup whose files are "small" by the session's
        # broadcast threshold (-1 = off, Spark's meaning): read and
        # merge on the driver — a bounded collect, and the lookup runs
        # no Spark job at all. (An empty projection keeps the executor
        # merge: a local relation needs at least one column.)
        if out_cols and any(op == "isin" for op, _, _ in pushed):
            limit = broadcast_threshold(self.spark)
            if limit is not None and 0 < limit and plan.bytes <= limit:
                return self._merge_on_driver(plan, out_cols)
        # object-store root: the JVM may lack the scheme's connector (no
        # S3A jars in this runtime), so the ranked files are read by
        # executor-side pyarrow through iofs — planned here, on the
        # driver, from the snapshot already resolved (no second
        # resolution, no planner round trips); same merge either way
        remote = iofs.is_uri(table.path) and not table.path.startswith(
            "file://"
        )
        if remote:
            df = self._read_ranked_arrow(plan)
        else:
            df = self._read_ranked_parquet(plan, snapshot, value_cols)
        tomb_sql = (
            "_rank IN (" + ", ".join(map(str, plan.tomb_ranks)) + ")"
            if plan.tomb_ranks
            else None
        )
        out = _dedup_latest_per_key(df, value_cols, tomb_sql, out_cols)
        if remote:
            # the mapInArrow leaf carries no statistics — attach the
            # broadcast decision Spark would have made from file sizes
            # (snapshot-recorded at commit; see broadcast_hint_if_small)
            from bazof_spark.datasource import broadcast_hint_if_small

            return broadcast_hint_if_small(
                self.spark, table.path, out, snapshot=snapshot
            )
        return out

    def _read_ranked_parquet(
        self, plan, snapshot: Snapshot, value_cols: list[str]
    ) -> DataFrame:
        """Raw versioned rows of the plan's files through ONE JVM
        parquet scan, with ``_rank``/``_row_idx`` provenance. Every
        expression is parsed from SQL text — one py4j round trip each
        instead of one per Column node; the parsed trees are the
        identical analyzed plan."""
        from bazof_spark.ordering import quote_sql_ident as _q

        # explicit schema read: (a) skips schema inference/merging over
        # the file listing, (b) null-fills columns added by schema
        # evolution that predate a file (maintenance.evolve_table_schema).
        # _metadata.row_index = physical position within the file — the
        # reference's intra-file tie-break (first row wins among equal
        # (key, event_time) in one file, lakehouse.rs:54-79; its own
        # financials data contains such duplicates).
        # RENAME COLUMN support: files written before a rename store the
        # former name — the read schema carries former fields (nullable,
        # same type) and each value column coalesces declared-then-former
        # spellings (a file stores exactly one, so this is a disjoint
        # union). Never-renamed tables take the identical plan as before
        # (no extra fields, plain column refs — plan pins unaffected).
        args = plan.read_args
        formers = {
            c: f for c, f in args["formers"].items() if c in value_cols
        }
        value_exprs = [
            "coalesce({}) AS {}".format(
                ", ".join(_q(x) for x in (c, *formers[c])), _q(c)
            )
            if c in formers
            else _q(c)
            for c in value_cols
        ]
        read_schema = (
            snapshot.schema.to_read_struct_type()
            if formers
            else snapshot.schema.to_struct_type()
        )
        df = self.spark.read.schema(read_schema).parquet(
            *(p for p, _, _ in plan.files)
        ).selectExpr(
            KEY_COL,
            EVENT_TIME_COL,
            *value_exprs,
            "_metadata.row_index AS _row_idx",
        )
        # as-of bound (pushed to row-group stats: rows with event_time
        # > t are invisible and do NOT shadow older versions,
        # lakehouse.rs:62-67) and the pushed key predicate (file-level
        # zone maps bound WHICH files are read, the row filter bounds
        # which rows survive; filter-on-key commutes with the
        # groupBy(key) merge, so winners are unchanged)
        conds = []
        if args["as_of_dt"] is not None:
            conds.append(
                f"{EVENT_TIME_COL} <= TIMESTAMP "
                + _sql_str(args["as_of_dt"].isoformat())
            )
        for op, col, value in args["pushed"]:
            if op == "isin":
                conds.append(f"{_q(col)} IN ({', '.join(map(_sql_str, value))})")
            else:
                conds.append(f"{_q(col)} {_SQL_COMPARATORS[op]} {_sql_str(value)}")
        if conds:
            df = df.filter(" AND ".join(conds))
        return self._with_rank(df, plan.files)

    def _split_bytes(self) -> int:
        """The session's spark.sql.files.maxPartitionBytes, in bytes."""
        from bazof_spark.datasource import _parse_byte_size

        return _parse_byte_size(
            self.spark.conf.get("spark.sql.files.maxPartitionBytes")
        )

    def _read_ranked_arrow(self, plan) -> DataFrame:
        """Raw versioned rows of the plan's files on an object-store
        root, whose scheme the JVM may have no connector for (no S3A
        jars in this runtime): ``spark.range(n).mapInArrow`` runs one
        executor-side pyarrow read per planned task through iofs
        ($BAZOF_S3_ENDPOINT / emulation routed) — the Data Source
        reader's own per-task read (``datasource.read_file_range``).
        Reference parity: the reference runs on any ``object_store``
        backend (crates/azof/src/lakehouse.rs:19-27)."""
        from bazof_spark.datasource import file_range_task_reader

        tasks = plan.tasks(self._split_bytes())
        read = file_range_task_reader(tasks, plan.env, **plan.read_args)
        # one partition per task (at least one: zero tasks — every byte
        # range page-pruned — must read as zero rows, not fail)
        n = len(tasks)
        return self.spark.range(0, n, 1, max(n, 1)).mapInArrow(read, plan.raw)

    def _merge_on_driver(self, plan, out_cols: list[str]) -> DataFrame:
        """Keyed lookup under the broadcast threshold: every planned
        task is read HERE through ``datasource.read_file_range``, merged
        latest-per-key in Arrow (:func:`_latest_per_key_arrow`) and
        handed to Spark as a local relation — the reference's
        in-process merge scan (crates/azof/src/lakehouse.rs:40-85), with
        no Spark job to schedule. Output fields keep the raw schema's
        nullability, as the executor routes do."""
        import pyarrow as pa
        from pyspark.sql.types import StructType

        from bazof_spark.datasource import read_file_range

        rows = pa.Table.from_batches(
            [
                b
                for task in plan.tasks(self._split_bytes())
                for b in read_file_range(*task, **plan.read_args)
            ],
            schema=plan.read_args["arrow_schema"],
        )
        winners = _latest_per_key_arrow(rows, plan.tomb_ranks)
        return self.spark.createDataFrame(
            winners.select(out_cols), StructType([plan.raw[c] for c in out_cols])
        )

    def _with_rank(self, df: DataFrame, files) -> DataFrame:
        """Attach each row's file precedence rank from the ranked
        ``(path, rank, tombstone)`` files."""
        if len(files) <= 1:
            return df.withColumn("_rank", F.lit(0))
        pairs = {_normalize_file_uri(p): r for p, r, _ in files}
        if len(pairs) <= _RANK_MAP_LITERAL_MAX:
            # fast path: exact-URI map lookup on raw input_file_name();
            # coalesce only evaluates the decode+regex normalization on a
            # miss (an unanticipated URI spelling), so per-row cost is
            # one hash probe, not three regexes
            fast_pairs = {
                v: r for p, r, _ in files for v in _uri_variants(p)
            }
            # the whole rank expression as ONE parsed expression (opt
            # round 1): F.lit per key/value cost 2 py4j round trips
            # apiece (~150 per scan on an 8-delta table); the parsed
            # coalesce(map()[...], map()[...]) is the identical analyzed
            # tree in one round trip
            return df.withColumn(
                "_rank",
                F.expr(
                    f"coalesce({_map_sql(fast_pairs)}[input_file_name()], "
                    f"{_map_sql(pairs)}[{_normalized_input_file_sql()}])"
                ),
            )
        # scale path (thousands of files): broadcast-join a tiny
        # (file, rank) frame — stays JVM-side, no Python UDF. LEFT join +
        # fail-fast on a missed lookup: an unanticipated URI spelling
        # must surface as an error, not silently drop rows (the literal
        # path has a coalesce fallback; this is its moral equivalent).
        rank_df = F.broadcast(
            self.spark.createDataFrame(list(pairs.items()), ["_file", "_rank"])
        )
        return (
            df.withColumn("_file", F.expr(_normalized_input_file_sql()))
            .join(rank_df, on="_file", how="left")
            .withColumn(
                "_rank",
                F.when(
                    F.col("_rank").isNull(),
                    F.raise_error(
                        F.concat(
                            F.lit("bazof: no precedence rank for file URI "),
                            F.col("_file"),
                        )
                    ).cast("long"),
                ).otherwise(F.col("_rank")),
            )
            .drop("_file")
        )

    def history(self, table_name: str) -> list[dict]:
        """Snapshot lineage (Delta DESCRIBE HISTORY analog): one entry
        per numbered snapshot on disk, oldest first — version, whether
        it is current, segment/delta/file counts. Driver-side metadata
        only; no Spark jobs."""
        from bazof_spark.maintenance import _numeric_versions

        table = self.table(table_name)
        current = table.current_version()
        out = []
        for v in _numeric_versions(table.path):
            snap = table.get_snapshot(str(v))
            files = snap.get_data_files()
            out.append(
                {
                    "version": str(v),
                    "is_current": str(v) == current,
                    "n_top_segments": len(snap.segments),
                    "n_files_current": len(files),
                    "n_columns": len(snap.schema.columns),
                }
            )
        return out

    # -- streaming ----------------------------------------------------

    def scan_stream(self, table_name: str, max_files_per_trigger: int = 10):
        """Streaming read of the table's data files (new delta files —
        e.g. from :meth:`upsert` or the streaming sink — are picked up
        as they land). See ``streaming/stream.py``; the reference
        roadmaps this at README.md:158."""
        from bazof_spark.streaming.stream import read_table_stream

        return read_table_stream(
            self.spark, self.table(table_name), max_files_per_trigger
        )

    # -- write --------------------------------------------------------

    def upsert(self, table_name: str, df: DataFrame, **kwargs):
        """Append one batch of upserts to ``table_name`` as a new delta
        + snapshot version (writer the reference roadmaps at
        README.md:152). See :func:`bazof_spark.writer.append_delta` for
        semantics (late data, precedence, distributed multi-file mode).
        """
        from bazof_spark.writer import append_delta

        return append_delta(self.spark, self.table(table_name).path, df, **kwargs)

    def _fresh_current_view(self, table_name: str) -> str:
        """Register a uniquely-named temp view of the table's CURRENT
        scan and return its name. DML row sources must never resolve
        through the bare-name catalog view: programmatic ``upsert()``
        doesn't refresh catalog views, and a same-named view registered
        by another Lakehouse (or an earlier test) would silently shadow
        this table. Caller drops the view when done."""
        import re as _re
        import uuid as _uuid

        safe = _re.sub(r"\W", "_", table_name)
        view = f"__bazof_dml_{safe}_{_uuid.uuid4().hex[:8]}"
        self.scan(table_name).createOrReplaceTempView(view)
        return view

    def update(
        self,
        table_name: str,
        sets: dict,
        where: str = "",
        at: datetime | None = None,
    ) -> bool:
        """UPDATE over merge-by-key: re-read the matching Current rows
        with the ``sets`` SQL expressions applied in the old row's
        context (``{"v": "v + 1"}`` works), upsert them at ``at``
        (default: now, UTC) so the new versions win the merge — every
        earlier as-of still sees the old values (time-travel-consistent,
        like DELETE). The matching set stays a DataFrame end to end.
        Returns True if a new version was published, False for a
        no-match no-op. key/event_time are immutable.

        Isolation: the matched rows come from the snapshot current at
        call time and the commit CAS-publishes against that version —
        a concurrent writer moving the pointer mid-update raises
        CommitConflictError instead of silently publishing the stale
        read-modify-write (no lost update). Re-run update() to retry
        against the fresh state; there is deliberately NO automatic
        retry here, because the SET expressions must be re-evaluated
        over the new winners, not replayed."""
        from datetime import timezone

        from bazof_spark.errors import BazofError

        if not self.has_table(table_name):
            raise BazofError(f"cannot UPDATE missing table {table_name!r}")
        schema = self.table(table_name).get_current_snapshot().schema
        value_cols = list(schema.column_names())
        bad = sorted(set(sets) - set(value_cols))
        if bad:
            raise BazofError(
                f"UPDATE {table_name} SET {', '.join(bad)}: only value "
                f"columns {value_cols} are assignable (key and "
                "event_time are immutable — a new version is stamped "
                "automatically)"
            )
        # CAST every SET expression to the column's declared type: SQL
        # arithmetic widens (Int / 2 → DOUBLE), and committing a delta
        # whose parquet type disagrees with the snapshot schema would
        # break every subsequent explicit-schema scan until RESTORE
        sql_types = {
            c.name: c.data_type.to_spark().simpleString()
            for c in schema.columns
        }
        proj = ", ".join(
            ["key"]
            + [
                f"CAST(({sets[c]}) AS {sql_types[c]}) AS {c}"
                if c in sets
                else c
                for c in value_cols
            ]
        )
        # pin the version BEFORE the matched-read: the scan below
        # resolves its file list from the then-current snapshot, and
        # the commit CAS-checks this pin — a commit slipping in between
        # can only cause a (safe, spurious) conflict, never a missed one
        pinned = self.table(table_name).current_version()
        view = self._fresh_current_view(table_name)
        try:
            q = f"SELECT {proj} FROM {view}"
            if where:
                q += f" WHERE {where}"
            matched = self.sql(q)
            if matched.isEmpty():
                return False
            if at is None:
                at = datetime.now(timezone.utc)
            self.upsert(
                table_name,
                matched.select(
                    "key", F.lit(at).alias(EVENT_TIME_COL), *value_cols
                ),
                start=at,
                end=at,
                create_segment=True,
                expected_version=pinned,
            )
            return True
        finally:
            self.spark.catalog.dropTempView(view)

    def write(
        self,
        df: DataFrame,
        table_name: str,
        mode: str = "append",
        num_files: int | None = None,
        merge_schema: bool = False,
    ) -> None:
        """Write ``df`` as one commit through the distributed Data
        Source sink (`datasource.write_table`): ``overwrite``
        creates/replaces the table at a new snapshot version, ``append``
        upserts a delta batch. The API twin of :meth:`scan` — together
        with :meth:`upsert` (driver-side single-file batches) this is
        the full authoring surface."""
        from bazof_spark.datasource import write_table

        write_table(
            df,
            self.root,
            table_name,
            mode=mode,
            num_files=num_files,
            merge_schema=merge_schema,
        )

    # -- SQL ----------------------------------------------------------

    def sql(self, query: str, dml_at=None) -> DataFrame:
        """Full SQL incl. time-travel syntax, the relational surface
        provided by Spark SQL exactly as DataFusion provides it for the
        reference (crates/azof-datafusion/src/context.rs:11-48).

        Registration is idempotent per versioned name (context.rs:40-42):
        ``name__<millis>`` temp views are (re)created from as-of scans;
        bare names resolve to Current scans when they are azof tables
        (names already registered in the Spark catalog — e.g. TPC-H temp
        views — are left untouched).

        DML (ours — the reference's SQL is read-only): a statement-
        leading ``CREATE [OR REPLACE] TABLE t AS <query>`` or
        ``INSERT INTO t <query>`` runs the inner query through this
        same method (so its sources may time-travel) and commits the
        result through the distributed Data Source writer; the returned
        DataFrame is a 1-row (table, version, operation) status.

        ``dml_at``: optional statement timestamp for every DML that
        stamps 'now' (DELETE FROM and MERGE tombstones, UPDATE rows,
        MERGE BY SOURCE UPDATE rows) — the SQL twin of
        ``Lakehouse.update(at=…)``'s determinism knob for replay and
        oracle fixtures; production statements leave it None.
        """
        from bazof_spark.sql import parse_dml, parse_maintenance, parse_show

        show = parse_show(query)
        if show is not None:
            return self._execute_show(show)
        maint = parse_maintenance(query)
        if maint is not None:
            return self._execute_maintenance(maint)
        dml = parse_dml(query)
        if dml is not None:
            return self._execute_dml(dml, at=dml_at)
        rewritten, tables = rewrite_and_extract_tables(query)
        for vt in tables:
            if vt.changes is not None:
                if self._versioned_view_is_stale(vt.versioned_name):
                    since, until = vt.changes
                    self.scan_changes(
                        vt.name, since=since, until=until
                    ).createOrReplaceTempView(vt.versioned_name)
                    _VERSIONED_VIEW_ROOTS[vt.versioned_name] = self.root
            elif vt.versioned_name != vt.name:
                # as-of / versioned view: contents are immutable for a
                # given (ROOT, table, timestamp|version) → safe to
                # cache, but keyed by root: two lakehouses sharing a
                # table name in one Spark session must not read each
                # other's pinned views (the registry remembers which
                # root registered each name)
                if self._versioned_view_is_stale(vt.versioned_name):
                    self.scan(
                        vt.name, vt.as_of, version=vt.version
                    ).createOrReplaceTempView(vt.versioned_name)
                    _VERSIONED_VIEW_ROOTS[vt.versioned_name] = self.root
            else:
                if not self.spark.catalog.tableExists(vt.name) and self.has_table(
                    vt.name
                ):
                    self.scan(vt.name).createOrReplaceTempView(vt.name)
        return self.spark.sql(rewritten)

    def _versioned_view_is_stale(self, name: str) -> bool:
        """True when the pinned temp view ``name`` must be (re)built:
        it doesn't exist, or it was registered by a DIFFERENT lakehouse
        root (temp views are session-global, lakehouses are
        root-scoped). A view of this name the registry has never seen
        is a user's own view and is left untouched, matching the bare-
        name contract."""
        if not self.spark.catalog.tableExists(name):
            return True
        return (
            name in _VERSIONED_VIEW_ROOTS
            and _VERSIONED_VIEW_ROOTS[name] != self.root
        )

    def _execute_show(self, show) -> DataFrame:
        """Catalog statements over the lakehouse root: ``SHOW TABLES``
        lists azof table directories; ``DESCRIBE [TABLE] t`` returns the
        declared schema (system columns included) plus the current
        version; ``SHOW VERSIONS [OF|FOR] t`` lists every numbered
        snapshot on disk with its segment/delta counts."""
        from bazof_spark.maintenance import _numeric_versions

        if show.kind == "tables":
            return self.spark.createDataFrame(
                [(n,) for n in self.list_tables()] or [], "table string"
            )
        table = self.table(show.table)
        if show.kind == "describe":
            snapshot = table.get_current_snapshot()
            rows = [
                ("key", "string", False, "system"),
                ("event_time", "timestamp", False, "system"),
            ] + [
                (c.name, c.data_type.to_spark().simpleString(), c.nullable, "value")
                for c in snapshot.schema.columns
            ]
            return self.spark.createDataFrame(
                rows, "column string, type string, nullable boolean, kind string"
            )
        versions = sorted(_numeric_versions(table.path))
        current = table.current_version()
        rows = []
        for v in versions:
            snap = table.get_snapshot(str(v))
            n_files = len(snap.ranked_data_files())
            rows.append((str(v), str(v) == current, len(snap.segments), n_files))
        return self.spark.createDataFrame(
            rows,
            "version string, is_current boolean, n_segments long, n_files long",
        )

    def _execute_maintenance(self, maint) -> DataFrame:
        """Maintenance statements → the bazof_spark.maintenance
        publishers (all share the writer's commit CAS): ``OPTIMIZE t
        [ZORDER BY (...)]`` / ``CHECKPOINT t`` compact Current into a
        new base at 'now', ``VACUUM t [RETAIN n VERSIONS] [DRY RUN]``
        garbage-collects, ``RESTORE t TO VERSION n`` re-publishes an
        old snapshot as the new head, ``ALTER TABLE t ADD|DROP
        COLUMN(S) ...`` is metadata-only schema evolution
        (evolve_table_schema — added columns must be nullable; old
        files null-fill them). Returns a 1-row
        (table, version, operation, detail) status frame; any Current
        temp view is refreshed so subsequent SQL sees the new version."""
        from datetime import datetime, timezone

        from bazof_spark.maintenance import (
            checkpoint_table,
            optimize_table,
            restore_table,
            vacuum_table,
        )

        if maint.kind == "optimize":
            now = datetime.now(timezone.utc)
            if maint.cluster_by:
                optimize_table(self, maint.table, now, list(maint.cluster_by))
                detail = f"zorder by ({', '.join(maint.cluster_by)})"
            else:
                checkpoint_table(self, maint.table, now)
                detail = "compaction checkpoint"
        elif maint.kind == "checkpoint":
            checkpoint_table(self, maint.table, datetime.now(timezone.utc))
            detail = "compaction checkpoint"
        elif maint.kind == "alter":
            from bazof_spark.maintenance import evolve_table_schema
            from bazof_spark.schema import ColumnDef, ColumnType

            evolve_table_schema(
                self,
                maint.table,
                add=[
                    ColumnDef(name=n, data_type=ColumnType(t), nullable=True)
                    for n, t in maint.add_columns
                ],
                drop=list(maint.drop_columns),
                rename=dict(maint.rename_columns),
                widen={n: t for n, t in maint.widen_columns},
            )
            detail = " ".join(
                filter(
                    None,
                    [
                        "added " + ", ".join(
                            f"{n} {t}" for n, t in maint.add_columns
                        ) if maint.add_columns else "",
                        "dropped " + ", ".join(maint.drop_columns)
                        if maint.drop_columns else "",
                        "renamed " + ", ".join(
                            f"{o} to {n}" for o, n in maint.rename_columns
                        ) if maint.rename_columns else "",
                        "widened " + ", ".join(
                            f"{n} to {t}" for n, t in maint.widen_columns
                        ) if maint.widen_columns else "",
                    ],
                )
            )
        elif maint.kind == "vacuum":
            res = vacuum_table(
                self,
                maint.table,
                **(
                    {"keep_versions": maint.keep_versions}
                    if maint.keep_versions is not None
                    else {}
                ),
                dry_run=maint.dry_run,
            )
            detail = (
                f"removed_files={len(res['removed_files'])} "
                f"removed_snapshots={len(res['removed_snapshots'])} "
                f"removed_dirs={len(res['removed_dirs'])}"
                + (" (dry run)" if maint.dry_run else "")
            )
        else:  # restore
            restore_table(self, maint.table, maint.version)
            detail = f"from version {maint.version}"
        if self.spark.catalog.tableExists(maint.table):
            self.scan(maint.table).createOrReplaceTempView(maint.table)
        version = self.table(maint.table).current_version()
        return self.spark.createDataFrame(
            [(maint.table, version, maint.kind, detail)],
            "table string, version string, operation string, detail string",
        )

    def _execute_dml(self, dml, at=None) -> DataFrame:
        """DML execution. Returns a 1-row (table, version, operation)
        status frame; any Current temp view of the table is refreshed so
        subsequent SQL sees the new version.

        - CTAS / INSERT INTO / the native-upsert MERGE: the inner query
          runs through ``sql`` (time travel works in the source) and the
          result through the Data Source writer's two-phase commit
          (``datasource.write_table`` — repartition-by-key placement,
          event_time-DESC files, atomic version flip).
        - every other MERGE: the clause list, one atomic
          ``writer.merge_apply`` commit (``_execute_merge``).
        - DELETE FROM / UPDATE: tombstones / re-stamped rows.

        ``at`` stamps every DML that stamps 'now' (default: now, UTC)."""
        from datetime import datetime, timezone

        from bazof_spark.datasource import write_table
        from bazof_spark.errors import BazofError

        if dml.kind != "ctas" and not self.has_table(dml.table):
            raise BazofError(
                f"cannot {dml.kind.split('_')[0].upper()} missing table "
                f"{dml.table!r}"
            )
        at = (
            datetime.now(timezone.utc)
            if at is None
            else at.astimezone(timezone.utc)
        )
        op = dml.kind
        if dml.kind == "delete":
            # matching keys stay a DataFrame end to end (writer
            # .delete_keys' distributed path): DELETE WHERE <predicate>
            # at corpus scale never collects the key set
            from bazof_spark.writer import delete_keys

            # pin BEFORE the matched-key read, exactly like update():
            # a commit landing between the predicate scan and the
            # tombstone commit must conflict, not silently delete keys
            # evaluated against the stale snapshot (lost update)
            pinned = self.table(dml.table).current_version()
            view = self._fresh_current_view(dml.table)
            try:
                q = f"SELECT key FROM {view}"
                if dml.select:
                    q += f" WHERE {dml.select}"
                delete_keys(
                    self.spark,
                    self.table(dml.table).path,
                    self.sql(q),
                    at=at,
                    create_segment=True,
                    expected_version=pinned,
                )
            finally:
                self.spark.catalog.dropTempView(view)
        elif dml.kind == "update":
            self.update(dml.table, dict(dml.sets), where=dml.select, at=at)
        elif dml.kind == "ctas":
            if self.has_table(dml.table) and not dml.replace:
                raise BazofError(
                    f"table {dml.table!r} already exists "
                    "(use CREATE OR REPLACE TABLE)"
                )
            df = self.sql(dml.select.rstrip().rstrip(";"))
            write_table(df, self.root, dml.table, mode="overwrite")
            op = "create"
        elif dml.kind in ("insert", "merge"):
            # insert and the native-upsert merge share the blind append:
            # in this format an appended delta IS a merge-by-key — the
            # new version shadows the older one per key at read time
            # (lakehouse.rs:40-79), which is exactly WHEN MATCHED UPDATE
            # SET * / NOT MATCHED INSERT *; nothing is read from the
            # target, so there is no pin and no driver collect
            df = self._positional(
                self.sql(dml.select.rstrip().rstrip(";")), dml.table
            )
            write_table(df, self.root, dml.table, mode="append")
        else:
            self._execute_merge(dml, at)
        if self.spark.catalog.tableExists(dml.table):
            self.scan(dml.table).createOrReplaceTempView(dml.table)
        version = self.table(dml.table).current_version()
        return self.spark.createDataFrame(
            [(dml.table, version, op)],
            "table string, version string, operation string",
        )

    def _positional(self, df: DataFrame, table_name: str) -> DataFrame:
        """SQL INSERT is positional: when the select's column names are
        not the table's (e.g. bare literals), align by position against
        (key, event_time, value columns…); a name-matching set is left
        alone (the writer binds by name, and declared-type casting —
        DECIMAL literals etc. — happens inside every writer path)."""
        schema = self.table(table_name).get_current_snapshot().schema
        expected = ["key", "event_time", *schema.column_names()]
        if set(df.columns) != set(expected) and len(df.columns) == len(
            expected
        ):
            return df.toDF(*expected)
        return df

    def _execute_merge(self, dml, at: datetime) -> None:
        """Every MERGE clause list except the native upsert. Per matched
        key the first WHEN MATCHED clause whose predicate holds on the
        TARGET's current row wins (Delta/ANSI semantics); WHEN NOT
        MATCHED THEN INSERT * takes the source rows whose keys are
        absent from Current; WHEN NOT MATCHED BY SOURCE clauses route
        the target keys no source row matches. Compiles to ONE atomic
        commit: writer.merge_apply publishes the upsert delta and the
        tombstone delta in the same snapshot, so a reader sees all of
        the MERGE or none of it. Tombstones and unmatched-by-source
        UPDATE rows share the single statement instant ``at``. The
        commit CAS-checks the version pinned before the source read, so
        a concurrent commit conflicts instead of being overwritten."""
        from bazof_spark.errors import BazofError
        from bazof_spark.writer import merge_apply

        pinned = self.table(dml.table).current_version()
        src = self.sql(dml.select.rstrip().rstrip(";"))
        if dml.insert_unmatched or any(
            cl[0] in ("update", "update_set") for cl in dml.clauses
        ):
            src = self._positional(src, dml.table)
        if "key" not in src.columns:
            raise BazofError(
                "MERGE source must produce a 'key' column, got "
                f"{src.columns}"
            )
        schema = self.table(dml.table).get_current_snapshot().schema
        declared = [c.name for c in schema.columns]

        def case_arms(clauses, prefix: str) -> str:
            # per key: verdict = first clause whose pred holds on the
            # target's CURRENT row (NULL pred result = clause does not
            # apply — coalesce keeps three-valued logic from leaking a
            # row past an earlier clause)
            return " ".join(
                f"WHEN coalesce({cl[1]}, false) THEN '{prefix}{cl[0]}{i}'"
                if cl[1]
                else f"WHEN true THEN '{prefix}{cl[0]}{i}'"
                for i, cl in enumerate(clauses)
            )

        def tags(clauses, prefix: str, action: str) -> str:
            return ", ".join(
                f"'{prefix}{action}{i}'"
                for i, cl in enumerate(clauses)
                if cl[0] == action
            )

        def assigned(sets) -> str:
            # the target row's declared columns, SET expressions applied
            sets = dict(sets)
            unknown = sorted(set(sets) - set(declared))
            if unknown:
                raise BazofError(
                    f"MERGE UPDATE SET references unknown column(s) "
                    f"{unknown}; declared: {declared}"
                )
            return ", ".join(
                f"({sets[c]}) AS {c}" if c in sets else f"t.{c} AS {c}"
                for c in declared
            )

        view = self._fresh_current_view(dml.table)
        src_view = f"{view}__src"
        try:
            src.createOrReplaceTempView(src_view)
            if dml.clauses:
                self.spark.sql(
                    f"SELECT t.key, CASE {case_arms(dml.clauses, '')} END "
                    f"AS _verdict FROM {view} t LEFT SEMI JOIN {src_view} s "
                    "ON t.key = s.key"
                ).createOrReplaceTempView(f"{src_view}__v")
            delete_parts = []
            upsert_parts = []
            if del_tags := tags(dml.clauses, "", "delete"):
                delete_parts.append(
                    self.spark.sql(
                        f"SELECT key FROM {src_view}__v "
                        f"WHERE _verdict IN ({del_tags})"
                    )
                )
            if dml.by_source:
                # Delta's WHEN NOT MATCHED BY SOURCE clauses: target
                # keys NO source row matches (anti join) — disjoint from
                # every matched set AND from inserts (⊆ source keys), so
                # the single-commit contract holds. Same first-match
                # verdict shape as the matched list; predicates and
                # UPDATE SET expressions see the target's current row
                # only — there is no source row, hence no `src` struct.
                # DELETE verdicts join the tombstone set (stamped at
                # ``at``); UPDATE SET verdicts re-commit the target row
                # with the expressions applied AT ``at`` — like the
                # UPDATE statement, an unmatched-by-source update always
                # wins merge precedence (contrast the matched update_set
                # clause, which commits at the source row's event_time).
                anti_v = f"{src_view}__anti"
                self.spark.sql(
                    f"SELECT t.* FROM {view} t LEFT ANTI JOIN "
                    f"{src_view} s ON t.key = s.key"
                ).createOrReplaceTempView(anti_v)
                self.spark.sql(
                    f"SELECT key, CASE {case_arms(dml.by_source, 'bs')} "
                    f"END AS _verdict FROM {anti_v}"
                ).createOrReplaceTempView(f"{anti_v}__v")
                if bs_del_tags := tags(dml.by_source, "bs", "delete"):
                    delete_parts.append(
                        self.spark.sql(
                            f"SELECT key FROM {anti_v}__v WHERE "
                            f"_verdict IN ({bs_del_tags})"
                        )
                    )
                at_lit = at.strftime("%Y-%m-%d %H:%M:%S.%f")
                for i, cl in enumerate(dml.by_source):
                    if cl[0] != "update_set":
                        continue
                    upsert_parts.append(
                        self.spark.sql(
                            f"SELECT t.key AS key, "
                            f"timestamp'{at_lit}' AS event_time, "
                            f"{assigned(cl[2])} FROM {anti_v} t "
                            f"JOIN {anti_v}__v v ON v.key = t.key "
                            f"WHERE v._verdict = 'bsupdate_set{i}'"
                        )
                    )
            if upd_tags := tags(dml.clauses, "", "update"):
                # UPDATE SET * = the full SOURCE row upserts the key
                upsert_parts.append(
                    self.spark.sql(
                        f"SELECT s.* FROM {src_view} s JOIN "
                        f"{src_view}__v v ON s.key = v.key "
                        f"WHERE v._verdict IN ({upd_tags})"
                    )
                )
            for i, cl in enumerate(dml.clauses):
                if cl[0] != "update_set":
                    continue
                # per-column SET: the TARGET's current row with the
                # assignment expressions applied. Unqualified names
                # resolve to the target (like UPDATE t SET …); the
                # matched SOURCE row rides along as ONE struct column
                # named `src`, so expressions can read src.<col> without
                # making bare value-column references ambiguous.
                # Committed at the matched SOURCE row's event_time —
                # deterministic (no wall-clock), and event-versioned
                # like every azof merge: a STALE source (src.event_time
                # earlier than the target row's current event_time)
                # loses merge precedence, so the UPDATE is a no-op for
                # that key. That asymmetry with DELETE clauses
                # (tombstones are stamped at the statement time and
                # always win) is the format's contract, not a bug;
                # README §MERGE documents it.
                upsert_parts.append(
                    self.spark.sql(
                        f"SELECT t.key AS key, src.event_time AS "
                        f"event_time, {assigned(cl[2])} "
                        f"FROM {view} t "
                        f"JOIN (SELECT s.key AS _src_key, "
                        f"struct(s.*) AS src FROM {src_view} s) "
                        f"ON t.key = _src_key "
                        f"JOIN {src_view}__v v ON v.key = t.key "
                        f"WHERE v._verdict = 'update_set{i}'"
                    )
                )
            if dml.insert_unmatched:
                upsert_parts.append(
                    self.spark.sql(
                        f"SELECT s.* FROM {src_view} s LEFT ANTI "
                        f"JOIN {view} t ON s.key = t.key"
                    )
                )
            merge_apply(
                self.spark,
                self.table(dml.table).path,
                upsert_df=_union_all(upsert_parts),
                delete_keys_df=_union_all(delete_parts),
                at=at,
                create_segment=True,
                expected_version=pinned,
            )
        finally:
            for v in (view, src_view, f"{src_view}__v", f"{src_view}__anti",
                      f"{src_view}__anti__v"):
                self.spark.catalog.dropTempView(v)


def _dedup_latest_per_key(
    df: DataFrame,
    value_cols: list[str],
    tomb_sql: str | None,
    out_cols: list[str],
) -> DataFrame:
    """The merge tail of every executor read of a scan — ``Lakehouse``'s
    JVM and ``mapInArrow`` routes and ``datasource.read_table``:
    first-eligible-occurrence-in-file-order semantics
    (crates/azof/src/lakehouse.rs:40,54-79 + metadata.rs:47-73),
    encoded as max_by over (−rank, event_time): min rank wins, then
    max event_time — exactly 'latest version ≤ t, file precedence
    beats timestamp'. Output: ``out_cols`` of the winners.

    ``tomb_sql`` (SQL over the raw row, true on tombstone rows — our
    DELETE extension) rides inside the max_by payload: tombstone rows
    compete in the merge like any newer version, but a winning
    tombstone row HIDES its key instead of surfacing. The filter costs
    one post-aggregate predicate and nothing at all on delete-free
    tables (None keeps the exact pre-extension plan)."""
    from bazof_spark.ordering import latest_wins_agg
    from bazof_spark.ordering import quote_sql_ident as _q

    # whole merge aggregate as ONE parsed expression (opt round 1):
    # the Column-by-Column struct/max_by build cost ~250 py4j round
    # trips per scan; latest_wins_agg parses to the identical
    # analyzed tree in a handful
    winner = df.groupBy(KEY_COL).agg(
        latest_wins_agg(value_cols, tomb_sql, "batch").alias("_w")
    )
    if tomb_sql:
        winner = winner.filter("NOT _w._tombstone")
    if not out_cols:
        return winner.select(KEY_COL).drop(KEY_COL)
    return winner.selectExpr(
        *(
            KEY_COL if c == KEY_COL else f"_w.{_q(c)} AS {_q(c)}"
            for c in out_cols
        )
    )


def _latest_per_key_arrow(raw, tomb_ranks: tuple[int, ...] = ()):
    """The as-of merge over raw versioned rows (key, event_time, values,
    ``_rank``, ``_row_idx``) in Arrow: sort by the batch precedence of
    ``ordering.LATEST_WINS_SORT_KEYS`` and keep each key's FIRST row —
    the row ``_dedup_latest_per_key``'s ``max_by`` picks — then hide
    winners from tombstone files (``tomb_ranks``)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from bazof_spark.ordering import LATEST_WINS_SORT_KEYS

    ordered = raw.sort_by(LATEST_WINS_SORT_KEYS)
    first = (
        ordered.select([KEY_COL])
        .append_column("_pos", pa.array(np.arange(ordered.num_rows)))
        .group_by(KEY_COL)
        .aggregate([("_pos", "min")])
        .column("_pos_min")
    )
    winners = ordered.take(first)
    if tomb_ranks:
        winners = winners.filter(
            pc.invert(
                pc.is_in(
                    winners.column("_rank"),
                    value_set=pa.array(tomb_ranks, pa.int64()),
                )
            )
        )
    return winners


def _union_all(parts: list) -> DataFrame | None:
    return functools.reduce(DataFrame.unionByName, parts) if parts else None
