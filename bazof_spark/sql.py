"""Time-travel SQL rewrite and the statement front end.

Reference: crates/azof-datafusion/src/parse.rs:17-168. The reference walks
the sqlparser AST with a ``VisitorMut``; Spark's parser exposes no such
hook, so this is a text-level pre-pass with the same observable contract
(parse.rs tests 176-284):

- ``tbl FOR SYSTEM_TIME AS OF '<rfc3339>'``  → ``tbl__<epoch_millis>``
- ``tbl AT('<rfc3339>')``                    → ``tbl__<epoch_millis>``
- ``tbl AT(TIMESTAMP => '<rfc3339>')``       → ``tbl__<epoch_millis>``
- invalid timestamp strings are errors;
- a table factor with no version clause keeps its name (⇒ Current).

e.g. ``financials AT('2019-01-17T00:00:00.000Z')`` →
``financials__1547683200000`` (parse.rs:193-195). Two as-of instants of
the same table get distinct rewritten names, so self-joins across time
work exactly as in the reference (parse.rs:71-75).

Extensions beyond the reference's syntax (both documented as ours):
``FOR VERSION AS OF`` / ``AT(VERSION =>)`` snapshot travel, and the
``CHANGES('tbl', '<since>'[, '<until>'])`` table function exposing
``Lakehouse.scan_changes`` (Delta-CDF-style) in SQL.

Every structural extraction — the time-travel clauses and table
factors, MERGE clause lists and UPDATE bodies — comes from the token
parsers in :mod:`bazof_spark.sqlcheck`, which track string, comment,
parenthesis and CASE…END nesting the way the reference's AST does. This
module maps their output onto the rewrite and onto ``DmlStatement``;
the statement-leading regexes below only recognise which statement it
is.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from bazof_spark.asof import AsOf, Current, parse_rfc3339
from bazof_spark.errors import SqlRewriteError
from bazof_spark.sqlcheck import (
    bare_factor_candidates,
    merge_tail_ast,
    time_travel_ops,
    update_body_ast,
)

# identifier, optionally schema-qualified: name or name.name
_IDENT = r"[A-Za-z_][A-Za-z0-9_$]*(?:\.[A-Za-z_][A-Za-z0-9_$]*)*"


@dataclass(frozen=True)
class VersionedTable:
    """(original name, rewritten name, as-of) — parse.rs:11-15.
    ``version`` is set for snapshot-version travel (our Delta-style
    extension) instead of an event-time as-of; ``changes`` holds the
    (since, until) instants of a CHANGES(...) table function."""

    name: str
    versioned_name: str
    as_of: AsOf
    version: str | None = None
    changes: tuple[str, str | None] | None = None


def _string_spans(sql: str) -> list[tuple[int, int]]:
    """Spans of single-quoted literals ('' escape honored), `--` line
    comments and `/* */` block comments, so statement detection never
    fires on keyword-shaped TEXT inside any of them. One linear scan,
    because strings and comments nest inside each other ('--' inside a
    string is not a comment; a quote inside a comment opens no string —
    two independent regex passes would mis-nest exactly those)."""
    spans: list[tuple[int, int]] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            end = min(j + 1, n)
            spans.append((i, end))
            i = end
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            end = n if j == -1 else j
            spans.append((i, end))
            i = end
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            end = n if j == -1 else j + 2
            spans.append((i, end))
            i = end
        else:
            i += 1
    return spans


def _inside(pos: int, spans: list[tuple[int, int]]) -> bool:
    return any(lo < pos < hi for lo, hi in spans)


def rewrite_and_extract_tables(sql: str) -> tuple[str, list[VersionedTable]]:
    """Rewrite time-travel clauses; return (sql, versioned tables).

    Tables referenced with no version clause are also returned (with
    ``AsOf.Current`` and ``versioned_name == name``) so the caller can
    register them, mirroring the reference registering every extracted
    table factor (crates/azof-datafusion/src/context.rs:29-43).

    The token walk in :mod:`bazof_spark.sqlcheck` finds the clauses
    (``time_travel_ops``) and the bare table factors
    (``bare_factor_candidates``) — a positional grammar over a real
    token stream, the closest this text-level pre-pass gets to the
    reference's AST visitor (crates/azof-datafusion/src/parse.rs:17-118).
    Tables are listed in the ops' registration order, then the bare
    factors in statement order, each versioned name once.
    """
    try:
        ops = time_travel_ops(sql)
    except ValueError as exc:
        raise SqlRewriteError(str(exc)) from exc
    tables: list[VersionedTable] = []
    seen: set[str] = set()
    repl: list[tuple[int, int, str]] = []
    for op in ops:  # registration order: clause family, then position
        if op["kind"] == "at":
            versioned = f"{op['name']}__{op['millis']}"
            vt = VersionedTable(
                op["name"], versioned,
                AsOf.event_time(parse_rfc3339(op["ts"])),
            )
        elif op["kind"] == "version":
            versioned = f"{op['name']}__v{op['ver']}"
            vt = VersionedTable(
                op["name"], versioned, Current, version=op["ver"]
            )
        else:
            versioned = f"{op['name']}__changes_{op['m1']}_{op['m2']}"
            vt = VersionedTable(
                op["name"], versioned, Current,
                changes=(op["since"], op["until"]),
            )
        repl.append((op["start"], op["end"], versioned))
        if versioned not in seen:
            seen.add(versioned)
            tables.append(vt)
    rewritten = sql
    for start, end, versioned in sorted(repl, key=lambda r: -r[0]):
        rewritten = rewritten[:start] + versioned + rewritten[end:]
    # bare factors register as Current — walked on the REWRITTEN text
    # (every versioned clause already collapsed to its versioned name,
    # which `seen` filters)
    for name in bare_factor_candidates(rewritten):
        if name not in seen:
            seen.add(name)
            tables.append(VersionedTable(name, name, Current))
    return rewritten, tables


# ---------------------------------------------------------------------------
# DML pre-pass (ours — the reference's SQL surface is read-only; its
# writer is roadmap, README.md:152). CREATE TABLE ... AS SELECT and
# INSERT INTO ... SELECT route the inner query through the normal
# time-travel rewrite and the result through the distributed writer.
# ---------------------------------------------------------------------------

_CTAS_RE = re.compile(
    rf"^CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE\s+(?P<name>{_IDENT})"
    rf"\s+AS\s+(?P<select>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    rf"^INSERT\s+INTO\s+(?P<name>{_IDENT})\s+(?P<select>.+)$",
    re.IGNORECASE | re.DOTALL,
)
# MERGE INTO t USING <src> [ON key WHEN … clause list] — our Delta-style
# extension over the format's merge-by-key (a newer version shadows the
# older one per key at read time, crates/azof/src/lakehouse.rs:40-79).
# ONE parser: _MERGE_RE splits off the target, _parse_merge_clauses
# (sqlcheck.merge_tail_ast) parses every clause list:
#   MERGE INTO t USING <src> ON key
#     WHEN MATCHED [AND <p>] THEN DELETE | UPDATE SET * | UPDATE SET c = e, …
#     WHEN NOT MATCHED THEN INSERT *
#     WHEN NOT MATCHED BY SOURCE [AND <p>] THEN DELETE | UPDATE SET c = e, …
# Clause order is significant (first matching clause wins per key,
# Delta/ANSI semantics); predicates evaluate over the TARGET's current
# row. _merge_kind labels the parsed list; the executor has two routes:
# the "merge" shape (bare `USING <src>`, or one unpredicated UPDATE SET *
# plus INSERT *) IS the format's native upsert, a blind append, and every
# other shape compiles to ONE atomic commit (writer.merge_apply: data
# delta + tombstone delta in the same snapshot). _MERGE_WHEN_RE only
# finds WHEN [NOT] MATCHED text that is not a parseable clause list, for
# the unsupported-shape error — never silently different semantics.
_MERGE_RE = re.compile(
    rf"^MERGE\s+INTO\s+(?P<name>{_IDENT})\s+USING\s+(?P<select>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_WHEN_RE = re.compile(
    r"\bWHEN\s+(?:NOT\s+)?MATCHED\b", re.IGNORECASE
)


def _parse_merge_clauses(select: str):
    """Parse ``<src> ON key WHEN ... [WHEN ...]*`` into
    (source_sql, matched_clauses, insert_unmatched, by_source_clauses)
    — or None when the text has no ``ON key WHEN …`` clause list (a
    bare ``USING <src>`` upsert, or the unsupported-shape error).
    matched_clauses entries, in statement order: ("delete", pred),
    ("update", pred) for the full-row UPDATE SET *, or ("update_set",
    pred, ((col, expr), …)) for per-column assignment lists.
    by_source_clauses are the WHEN
    NOT MATCHED BY SOURCE [AND pred] THEN DELETE / UPDATE SET
    assignment-list clauses in statement order (first match wins per
    unmatched target key, same reachability rule: an unpredicated
    clause must be last); "" predicate = all unmatched target keys.
    BY SOURCE UPDATE SET * is rejected — there is no source row to
    take values from. Predicates inside strings never split clauses.

    The split comes from ``sqlcheck.merge_tail_ast``, which tracks
    parenthesis and CASE…END depth over real tokens (the property the
    reference gets from its AST, crates/azof-datafusion/src/parse.rs:
    17-118) and hands back original-spelling source slices."""
    try:
        ast = merge_tail_ast(select)
    except ValueError as exc:
        raise SqlRewriteError(f"malformed MERGE clause list: {exc}") from exc
    if ast is None:
        return None
    return _merge_ast_to_result(ast)


def _merge_ast_to_result(ast: dict):
    """Semantic validation over the parsed clause list — the
    single home of the MERGE clause rules (reachability, the allowed
    action per clause family, key/event_time immutability), applied in
    statement order with the same errors as always."""
    matched: list[tuple] = []
    insert_unmatched = False
    by_source: list[tuple] = []
    for c in ast["clauses"]:
        act = c["action"]
        pred = c["pred"].strip()
        if c["by_src"]:
            # Delta's WHEN NOT MATCHED BY SOURCE [AND p] THEN
            # DELETE / UPDATE SET col = expr, …: target keys NO source
            # row matches; pred AND assignment expressions over the
            # target's current row (there is no source row, so no
            # `src` struct and no UPDATE SET *)
            if not c["neg"]:
                raise SqlRewriteError(
                    "MATCHED BY SOURCE is not a clause — use WHEN NOT "
                    f"MATCHED BY SOURCE (action {act!r})"
                )
            if by_source and by_source[-1][1] == "":
                raise SqlRewriteError(
                    "an unpredicated WHEN NOT MATCHED BY SOURCE clause "
                    "must be the LAST such clause — later ones are "
                    "unreachable"
                )
            if act == "DELETE":
                by_source.append(("delete", pred))
            elif act == "UPDATE SET *":
                raise SqlRewriteError(
                    "WHEN NOT MATCHED BY SOURCE cannot UPDATE SET * — "
                    "there is no source row; use an assignment list "
                    "(UPDATE SET col = expr, …)"
                )
            elif isinstance(act, tuple):
                _check_assign_cols(act[1])
                by_source.append(("update_set", pred, act[1]))
            else:
                raise SqlRewriteError(
                    "WHEN NOT MATCHED BY SOURCE supports only 'THEN "
                    "DELETE' or 'THEN UPDATE SET col = expr, …', "
                    f"got: {act!r}"
                )
        elif c["neg"]:
            if act != "INSERT *" or pred:
                raise SqlRewriteError(
                    "WHEN NOT MATCHED supports only 'THEN INSERT *' "
                    f"(no predicate), got: {act!r}"
                )
            if insert_unmatched:
                raise SqlRewriteError(
                    "at most one WHEN NOT MATCHED clause per MERGE"
                )
            insert_unmatched = True
        else:
            if act == "INSERT *":
                raise SqlRewriteError(
                    "WHEN MATCHED cannot INSERT — use UPDATE SET * or "
                    "DELETE"
                )
            if matched and matched[-1][1] == "":
                raise SqlRewriteError(
                    "an unpredicated WHEN MATCHED clause must be the "
                    "LAST matched clause — later clauses are unreachable"
                )
            if act == "DELETE":
                matched.append(("delete", pred))
            elif act == "UPDATE SET *":
                matched.append(("update", pred))
            else:
                # per-column assignment list: UPDATE SET a = e1, b = e2
                # — unqualified names resolve to the TARGET's current
                # row (like UPDATE t SET …); the matched source row is
                # exposed as a struct named `src`, so src.<col> reads
                # any source column. key/event_time stay immutable like
                # the UPDATE statement; the new row commits at the
                # SOURCE row's event_time (a stale source — earlier
                # than the target's current event_time — is a merge-
                # precedence no-op, see Lakehouse._execute_merge)
                _check_assign_cols(act[1])
                matched.append(("update_set", pred, act[1]))
    return ast["src"], tuple(matched), insert_unmatched, tuple(by_source)


def _check_assign_cols(sets: tuple) -> None:
    for col, _ in sets:
        if col.lower() in ("key", "event_time"):
            raise SqlRewriteError(
                f"MERGE UPDATE SET cannot assign {col!r} — "
                "key and event_time are immutable (the updated row's "
                "commit instant is the clause's, never an expression)"
            )


def _merge_kind(clauses: tuple, insert: bool, by_source: tuple) -> str:
    """The label of a parsed clause list (status-frame ``operation``).
    Only "merge" routes differently: it is the native upsert."""
    if by_source:
        return "merge_multi"
    if clauses == (("update", ""),) and insert:
        return "merge"
    if len(clauses) == 1 and clauses[0][0] == "delete" and not insert:
        return "merge_delete"
    if not clauses and insert:
        return "merge_insert"
    return "merge_multi"


# UPDATE t SET col = expr[, ...] [WHERE <pred>] — sugar over the
# format's merge-by-key: matching rows are re-read with the SET
# expressions applied (they may reference the old column values) and
# upserted at 'now', so the update is time-travel-consistent exactly
# like DELETE — earlier as-ofs still see the old values.
_UPDATE_RE = re.compile(
    rf"^UPDATE\s+(?P<name>{_IDENT})\s+SET\s+(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# DELETE FROM t [WHERE <pred>] — the tombstone extension
# (writer.delete_keys): matching keys get a tombstone delta, making
# them invisible from the delete instant on while every earlier as-of
# still sees them (time-travel-consistent deletes, Delta-style).
_DELETE_RE = re.compile(
    rf"^DELETE\s+FROM\s+(?P<name>{_IDENT})"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


@dataclass(frozen=True)
class DmlStatement:
    #: "ctas"|"insert"|"delete"|"update", or a MERGE label from
    #: _merge_kind: "merge" (native upsert) | "merge_delete" |
    #: "merge_insert" | "merge_multi" (all three run the clause list)
    kind: str
    table: str
    replace: bool
    #: the source query; for "delete"/"update": the WHERE predicate
    #: ("" = all)
    select: str
    #: for "update": ((column, sql_expression), ...) SET assignments
    sets: tuple = ()
    #: MERGE: WHEN MATCHED clauses in statement order (first match wins
    #: per key): ("delete"|"update", pred) or ("update_set", pred,
    #: ((col, expr), …)); "" predicate = all matched keys, evaluated
    #: over the target's current row
    clauses: tuple = ()
    #: MERGE: a WHEN NOT MATCHED THEN INSERT * clause
    insert_unmatched: bool = False
    #: MERGE: WHEN NOT MATCHED BY SOURCE clauses in statement order
    #: (first match wins per unmatched target key): ("delete", pred) or
    #: ("update_set", pred, ((col, expr), …)); "" predicate = all
    #: unmatched target keys, expressions over the target's current row
    #: (no source row exists, so no `src` struct)
    by_source: tuple = ()


def _lstrip_trivia(sql: str) -> str:
    """Drop leading whitespace and comments so DML detection sees the
    first real token (a leading `-- comment` must not hide an INSERT,
    and comment TEXT mentioning 'create table' must not fake one). A
    leading string literal is a token, not trivia: ``'x' DELETE FROM
    t`` stays unmatched and reaches Spark, which rejects it."""
    i, n = 0, len(sql)
    while i < n:
        if sql[i].isspace():
            i += 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j == -1 else j
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j == -1 else j + 2
        else:
            break
    return sql[i:]


def parse_dml(sql: str) -> DmlStatement | None:
    """The DML statement at the head of ``sql``, or None for plain
    queries. Only statement-leading DML counts: the keywords inside a
    string/comment or mid-query never match."""
    head = _lstrip_trivia(sql)
    m = _CTAS_RE.match(head)
    if m:
        return DmlStatement(
            kind="ctas",
            table=m.group("name"),
            replace=bool(m.group("replace")),
            select=m.group("select"),
        )
    m = _INSERT_RE.match(head)
    if m:
        return DmlStatement(
            kind="insert",
            table=m.group("name"),
            replace=False,
            select=m.group("select"),
        )
    m = _DELETE_RE.match(head)
    if m:
        return DmlStatement(
            kind="delete",
            table=m.group("name"),
            replace=False,
            select=(m.group("pred") or "").strip(),
        )
    m = _UPDATE_RE.match(head)
    if m:
        # WHERE/commas inside strings or parenthesized subexpressions
        # never split: the token walk tracks paren + CASE…END depth
        try:
            sets, pred = update_body_ast(m.group("body"))
        except ValueError as exc:
            raise SqlRewriteError(str(exc)) from exc
        return DmlStatement(
            kind="update",
            table=m.group("name"),
            replace=False,
            select=pred,
            sets=sets,
        )
    m = _MERGE_RE.match(head)
    if m:
        select = m.group("select")
        parsed = _parse_merge_clauses(select)
        if parsed is not None:
            src, clauses, insert_unmatched, by_src = parsed
            return DmlStatement(
                kind=_merge_kind(clauses, insert_unmatched, by_src),
                table=m.group("name"),
                replace=False,
                select=src,
                clauses=clauses,
                insert_unmatched=insert_unmatched,
                by_source=by_src,
            )
        # no clause list: a bare `USING <src>` is the native upsert
        # ("ON key" alone is left to the source query — it is a legal
        # join condition there); any other WHEN [NOT] MATCHED is an
        # unsupported shape
        spans = _string_spans(select)
        for cand in _MERGE_WHEN_RE.finditer(select):
            if not _inside(cand.start(), spans):
                raise SqlRewriteError(
                    "MERGE INTO supports the format's merges-by-key: "
                    "'ON key' followed by a clause list of WHEN MATCHED "
                    "[AND <pred>] THEN UPDATE SET */UPDATE SET col = "
                    "expr/DELETE, WHEN NOT MATCHED THEN INSERT * and "
                    "WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN "
                    "DELETE/UPDATE SET col = expr, "
                    f"got: {select[cand.start():].strip()!r}"
                )
        return DmlStatement(
            kind="merge",
            table=m.group("name"),
            replace=False,
            select=select,
        )
    return None


_SHOW_TABLES_RE = re.compile(r"^SHOW\s+TABLES\s*;?\s*$", re.IGNORECASE)
_DESCRIBE_RE = re.compile(
    rf"^DESC(?:RIBE)?\s+(?:TABLE\s+)?(?P<name>{_IDENT})\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_VERSIONS_RE = re.compile(
    rf"^SHOW\s+VERSIONS\s+(?:OF|FOR)\s+(?P<name>{_IDENT})\s*;?\s*$",
    re.IGNORECASE,
)


@dataclass(frozen=True)
class ShowStatement:
    kind: str  # "tables" | "describe" | "versions"
    table: str | None = None


def parse_show(sql: str) -> ShowStatement | None:
    """Catalog statements (ours — Delta/Iceberg-style conveniences):
    SHOW TABLES, DESCRIBE [TABLE] t, SHOW VERSIONS OF t."""
    head = _lstrip_trivia(sql)
    if _SHOW_TABLES_RE.match(head):
        return ShowStatement(kind="tables")
    m = _SHOW_VERSIONS_RE.match(head)
    if m:
        return ShowStatement(kind="versions", table=m.group("name"))
    m = _DESCRIBE_RE.match(head)
    if m:
        return ShowStatement(kind="describe", table=m.group("name"))
    return None


_OPTIMIZE_RE = re.compile(
    rf"^OPTIMIZE\s+(?P<name>{_IDENT})"
    r"(?:\s+ZORDER\s+BY\s*\(\s*(?P<cols>[^)]*?)\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(
    rf"^VACUUM\s+(?P<name>{_IDENT})"
    r"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS?)?"
    r"(?:\s+(?P<dry>DRY\s+RUN))?\s*;?\s*$",
    re.IGNORECASE,
)
_CHECKPOINT_RE = re.compile(
    rf"^CHECKPOINT\s+(?P<name>{_IDENT})\s*;?\s*$", re.IGNORECASE
)
_RESTORE_RE = re.compile(
    rf"^RESTORE\s+(?P<name>{_IDENT})\s+TO\s+VERSION\s+(?P<v>\d+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_ADD_RE = re.compile(
    rf"^ALTER\s+TABLE\s+(?P<name>{_IDENT})\s+ADD\s+COLUMNS?\s+"
    r"\(?\s*(?P<cols>[^();]+?)\s*\)?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_RE = re.compile(
    rf"^ALTER\s+TABLE\s+(?P<name>{_IDENT})\s+DROP\s+COLUMNS?\s+"
    r"\(?\s*(?P<cols>[^();]+?)\s*\)?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_RENAME_RE = re.compile(
    rf"^ALTER\s+TABLE\s+(?P<name>{_IDENT})\s+RENAME\s+COLUMN\s+"
    rf"(?P<old>{_IDENT})\s+TO\s+(?P<new>{_IDENT})\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_TYPE_RE = re.compile(
    rf"^ALTER\s+TABLE\s+(?P<name>{_IDENT})\s+ALTER\s+COLUMN\s+"
    rf"(?P<col>{_IDENT})\s+(?:SET\s+DATA\s+)?TYPE\s+(?P<typ>\w+)\s*;?\s*$",
    re.IGNORECASE,
)

#: SQL type spellings → azof ColumnType names (schema.ColumnType)
SQL_TYPE_NAMES = {
    "STRING": "String",
    "VARCHAR": "String",
    "TEXT": "String",
    "INT": "Int",
    "INTEGER": "Int",
    "BIGINT": "Int",
    "LONG": "Int",
    "BOOLEAN": "Boolean",
    "BOOL": "Boolean",
    "TIMESTAMP": "DateTime",
    "DATETIME": "DateTime",
    "DOUBLE": "Float",
    "FLOAT": "Float",
    "BINARY": "Binary",
    "BYTES": "Binary",
    "BLOB": "Binary",
}


@dataclass(frozen=True)
class MaintenanceStatement:
    kind: str  # "optimize" | "vacuum" | "checkpoint" | "restore" | "alter"
    table: str
    cluster_by: tuple[str, ...] = ()
    keep_versions: int | None = None
    dry_run: bool = False
    version: int | None = None
    #: for "alter": ((column, ColumnType name), ...) additions
    add_columns: tuple = ()
    #: for "alter": dropped column names
    drop_columns: tuple = ()
    #: for "alter": ((old, new), ...) renames
    rename_columns: tuple = ()
    #: for "alter": ((column, ColumnType name), ...) type widenings
    widen_columns: tuple = ()


def parse_maintenance(sql: str) -> "MaintenanceStatement | None":
    """Maintenance statements (ours — the Delta-style surface over
    bazof_spark.maintenance): ``OPTIMIZE t [ZORDER BY (c1, c2)]``
    (compaction checkpoint; with ZORDER the merged base is Z-order
    clustered), ``CHECKPOINT t``, ``VACUUM t [RETAIN n VERSIONS]
    [DRY RUN]``, ``RESTORE t TO VERSION n``. Statement-leading only,
    same trivia handling as DML."""
    head = _lstrip_trivia(sql)
    m = _OPTIMIZE_RE.match(head)
    if m:
        cols = tuple(
            c.strip() for c in (m.group("cols") or "").split(",") if c.strip()
        )
        return MaintenanceStatement(
            kind="optimize", table=m.group("name"), cluster_by=cols
        )
    m = _CHECKPOINT_RE.match(head)
    if m:
        return MaintenanceStatement(kind="checkpoint", table=m.group("name"))
    m = _VACUUM_RE.match(head)
    if m:
        n = m.group("n")
        return MaintenanceStatement(
            kind="vacuum",
            table=m.group("name"),
            keep_versions=int(n) if n else None,
            dry_run=bool(m.group("dry")),
        )
    m = _RESTORE_RE.match(head)
    if m:
        return MaintenanceStatement(
            kind="restore", table=m.group("name"), version=int(m.group("v"))
        )
    m = _ALTER_ADD_RE.match(head)
    if m:
        adds = []
        for piece in m.group("cols").split(","):
            parts = piece.split()
            if len(parts) != 2:
                raise SqlRewriteError(
                    "ALTER TABLE ... ADD COLUMN expects 'name TYPE' "
                    f"pairs, got: {piece.strip()!r}"
                )
            name, typ = parts
            ct = SQL_TYPE_NAMES.get(typ.upper())
            if ct is None:
                raise SqlRewriteError(
                    f"unsupported column type {typ!r}; one of "
                    f"{sorted(set(SQL_TYPE_NAMES))}"
                )
            adds.append((name, ct))
        return MaintenanceStatement(
            kind="alter", table=m.group("name"), add_columns=tuple(adds)
        )
    m = _ALTER_DROP_RE.match(head)
    if m:
        drops = tuple(
            c.strip() for c in m.group("cols").split(",") if c.strip()
        )
        return MaintenanceStatement(
            kind="alter", table=m.group("name"), drop_columns=drops
        )
    m = _ALTER_RENAME_RE.match(head)
    if m:
        return MaintenanceStatement(
            kind="alter",
            table=m.group("name"),
            rename_columns=((m.group("old"), m.group("new")),),
        )
    m = _ALTER_TYPE_RE.match(head)
    if m:
        ct = SQL_TYPE_NAMES.get(m.group("typ").upper())
        if ct is None:
            raise SqlRewriteError(
                f"unsupported column type {m.group('typ')!r}; one of "
                f"{sorted(set(SQL_TYPE_NAMES))}"
            )
        return MaintenanceStatement(
            kind="alter",
            table=m.group("name"),
            widen_columns=((m.group("col"), ct),),
        )
    return None
