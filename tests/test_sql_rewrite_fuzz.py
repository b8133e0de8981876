"""Negative-space tests for the time-travel SQL rewrite (sql.py).

The reference rewrites via sqlparser AST visitation
(crates/azof-datafusion/src/parse.rs:17-118) and is immune to
pattern-shaped text in strings/comments by construction; our text-level
pre-pass must prove the same immunity explicitly. These tests pin that
non-time-travel text is untouched and malformed timestamps still error
(parse.rs:257-284 behavior), across string literals, '' escapes, line
and block comments, columns named `at`, CTE/subquery nesting, and
mixed-case keywords.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.errors import SqlRewriteError  # noqa: E402
from bazof_spark.sql import rewrite_and_extract_tables  # noqa: E402

TS = "2019-01-17T00:00:00.000Z"
MS = 1547683200000


def names(tables):
    return {t.versioned_name for t in tables}


def test_at_inside_string_literal_untouched():
    sql = f"SELECT 'tbl AT(''{TS}'')' AS doc FROM t"
    out, tables = rewrite_and_extract_tables(sql)
    assert out == sql
    assert names(tables) == {"t"}


def test_system_time_inside_string_untouched():
    sql = f"SELECT * FROM t WHERE note = 'x FOR SYSTEM_TIME AS OF ''{TS}'''"
    out, tables = rewrite_and_extract_tables(sql)
    assert out == sql
    assert names(tables) == {"t"}


def test_at_inside_line_comment_untouched():
    sql = f"SELECT * FROM t -- uses financials AT('{TS}')\nWHERE x = 1"
    out, tables = rewrite_and_extract_tables(sql)
    assert out == sql
    assert names(tables) == {"t"}


def test_at_inside_block_comment_untouched():
    sql = f"SELECT * /* financials AT('{TS}') \n CHANGES('t','{TS}') */ FROM t"
    out, tables = rewrite_and_extract_tables(sql)
    assert out == sql
    assert names(tables) == {"t"}


def test_quote_inside_comment_does_not_open_string():
    # the apostrophe in the comment must not shift string spans and
    # shield the real clause from rewriting
    sql = f"SELECT * -- don't\nFROM financials AT('{TS}')"
    out, tables = rewrite_and_extract_tables(sql)
    assert f"financials__{MS}" in out
    assert names(tables) == {f"financials__{MS}"}


def test_comment_marker_inside_string_is_not_a_comment():
    # '--' inside a string must not comment out the rest of the line
    sql = f"SELECT '--' AS dash FROM financials AT('{TS}')"
    out, tables = rewrite_and_extract_tables(sql)
    assert f"financials__{MS}" in out


def test_column_named_at_untouched():
    sql = "SELECT at, t.at FROM t WHERE at > 5"
    out, tables = rewrite_and_extract_tables(sql)
    assert out == sql
    assert names(tables) == {"t"}


def test_mixed_case_and_spacing_variants_rewrite():
    for clause in (
        f"aT('{TS}')",
        f"At  (  '{TS}'  )",
        f"AT(TIMESTAMP=>'{TS}')",
        f"at ( timestamp => '{TS}' )",
        f"FOR system_time AS of '{TS}'",
    ):
        out, tables = rewrite_and_extract_tables(f"SELECT * FROM tbl {clause}")
        assert f"tbl__{MS}" in out, clause
        assert names(tables) == {f"tbl__{MS}"}, clause


def test_cte_and_subquery_nesting():
    sql = (
        f"WITH base AS (SELECT * FROM financials AT('{TS}')) "
        f"SELECT * FROM base b JOIN (SELECT * FROM t2 FOR SYSTEM_TIME AS OF "
        f"'{TS}') s ON b.k = s.k"
    )
    out, tables = rewrite_and_extract_tables(sql)
    assert f"financials__{MS}" in out and f"t2__{MS}" in out
    assert {f"financials__{MS}", f"t2__{MS}"} <= names(tables)
    # the CTE name is query-local: never registered (and thus never
    # scanned even if an azof table shares the name)
    assert "base" not in names(tables)


def test_cte_shadowing_azof_table_not_registered():
    # a CTE named like a real table must shadow it, not scan it
    sql = (
        f"WITH events_versioned AS (SELECT 1 AS k) "
        f"SELECT * FROM events_versioned"
    )
    _, tables = rewrite_and_extract_tables(sql)
    assert "events_versioned" not in names(tables)
    # multi-CTE: both names excluded, real tables still registered
    sql = (
        "WITH a AS (SELECT 1), b AS (SELECT * FROM real_tbl) "
        "SELECT * FROM a JOIN b ON 1=1"
    )
    _, tables = rewrite_and_extract_tables(sql)
    got = names(tables)
    assert "real_tbl" in got and "a" not in got and "b" not in got


def test_with_recursive_cte_excluded():
    sql = (
        "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL "
        "SELECT n + 1 FROM r WHERE n < 5) SELECT * FROM r"
    )
    _, tables = rewrite_and_extract_tables(sql)
    assert "r" not in names(tables)


def test_cte_shaped_text_inside_string_still_registers_table():
    # 'WITH x AS (' inside a literal must not suppress registering a
    # real table named x
    sql = "SELECT 'WITH x AS (' AS doc FROM x"
    _, tables = rewrite_and_extract_tables(sql)
    assert "x" in names(tables)


def test_at_on_parenthesized_derived_table_not_rewritten():
    # AT() binds to a NAMED table factor; a derived table's closing
    # paren must not produce a rewrite of some inner identifier
    sql = f"SELECT * FROM (SELECT k FROM t) AT('{TS}')"
    out, tables = rewrite_and_extract_tables(sql)
    assert "__" not in out  # nothing rewritten; Spark reports the
    assert names(tables) == {"t"}  # syntax error on the stray AT


def test_at_on_aliased_derived_table_rewrites_only_the_alias():
    # `(subquery) x AT(...)`: the alias is a query-local name; the
    # rewrite maps it to x__millis which then fails resolution loudly
    # (x is not an azof table) instead of silently scanning anything —
    # pinned here so the behavior is a clear error, not data corruption
    sql = f"SELECT * FROM (SELECT k FROM t) x AT('{TS}')"
    out, tables = rewrite_and_extract_tables(sql)
    assert f"x__{MS}" in out
    assert "t" in names(tables)


def test_quoted_identifiers_not_rewritten():
    # backtick/double-quoted table factors are outside the rewrite's
    # identifier grammar: the clause survives to Spark (loud parse
    # error), nothing is silently scanned
    for quoted in ("`events`", '"events"'):
        sql = f"SELECT * FROM {quoted} AT('{TS}')"
        out, tables = rewrite_and_extract_tables(sql)
        assert "events__" not in out, quoted


def test_join_chain_registration_with_cte_mix():
    sql = (
        f"WITH w AS (SELECT 1 AS k) "
        f"SELECT * FROM a, b JOIN w ON w.k = b.k "
        f"JOIN c AT('{TS}') ON c.k = b.k"
    )
    out, tables = rewrite_and_extract_tables(sql)
    got = names(tables)
    assert {"a", "b", f"c__{MS}"} <= got
    assert "w" not in got


def test_self_join_two_instants_distinct_names():
    sql = (
        f"SELECT * FROM f AT('{TS}') a "
        f"JOIN f AT('2020-01-01T00:00:00.000Z') b ON a.k = b.k"
    )
    out, tables = rewrite_and_extract_tables(sql)
    assert f"f__{MS}" in out and "f__1577836800000" in out
    assert len(names(tables)) == 2


def test_malformed_timestamp_errors():
    for bad in ("not-a-ts", "2019-13-45T99:00:00Z", ""):
        with pytest.raises(SqlRewriteError):
            rewrite_and_extract_tables(f"SELECT * FROM t AT('{bad}')")


def test_malformed_timestamp_errors_inside_cte():
    with pytest.raises(SqlRewriteError):
        rewrite_and_extract_tables(
            "WITH x AS (SELECT * FROM t AT('nope')) SELECT * FROM x"
        )


def test_changes_inside_comment_untouched():
    sql = f"SELECT * FROM t /* CHANGES('t', '{TS}') */"
    out, tables = rewrite_and_extract_tables(sql)
    assert out == sql
    assert names(tables) == {"t"}


def test_unterminated_string_protects_rest_of_text():
    sql = f"SELECT 'oops FROM f AT('{TS}')"
    out, _ = rewrite_and_extract_tables(sql)
    # the opening quote swallows to the next quote; the tail after it is
    # NOT a valid clause match ('{TS}' is not an identifier position)
    assert "f__" not in out


def test_merge_keywords_inside_strings_and_comments():
    from bazof_spark.sql import parse_dml

    # MERGE INTO inside a string is data, not DML
    assert parse_dml("SELECT 'MERGE INTO t USING x' AS doc") is None
    # ...and inside a leading comment the real statement still parses
    d = parse_dml("/* MERGE INTO other USING y */ MERGE INTO t USING SELECT 1")
    assert d is not None and d.kind == "merge" and d.table == "t"
    # time-travel inside a MERGE source query still rewrites
    d = parse_dml(
        f"MERGE INTO t USING SELECT key, event_time, value "
        f"FROM src AT ('{TS}')"
    )
    assert d.kind == "merge"
    out, tables = rewrite_and_extract_tables(d.select)
    assert f"src__{MS}" in out
    # canonical-clause text inside a string survives as data even when
    # a REAL canonical clause follows it
    d = parse_dml(
        "MERGE INTO t USING SELECT 'ON key WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *' AS doc FROM s "
        "ON key WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.kind == "merge" and "AS doc FROM s" in d.select
    assert "WHEN MATCHED" in d.select  # the string literal stays
    assert not d.select.rstrip().upper().endswith("INSERT *")  # clause gone


def _by_source_delete(d):
    """The WHEN NOT MATCHED BY SOURCE DELETE clause's predicate (None =
    no such clause)."""
    return next((cl[1] for cl in d.by_source if cl[0] == "delete"), None)


def test_merge_multi_clause_fuzz_strings_stay_inert():
    """Round-8 multi-clause MERGE: clause text inside string literals
    never splits real clauses, predicates carrying quotes/parens parse
    whole, and the source query survives verbatim."""
    from bazof_spark.sql import parse_dml

    d = parse_dml(
        "MERGE INTO t USING SELECT 'WHEN MATCHED THEN DELETE' AS doc, "
        "key FROM s ON key "
        "WHEN MATCHED AND event_type = 'WHEN MATCHED' THEN DELETE "
        "WHEN MATCHED AND (value > 1 AND value < 10) THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.kind == "merge_multi"
    assert "AS doc" in d.select and "WHEN MATCHED THEN DELETE" in d.select
    assert d.clauses == (
        ("delete", "event_type = 'WHEN MATCHED'"),
        ("update", "(value > 1 AND value < 10)"),
    )
    assert d.insert_unmatched
    # a JOIN ... ON key in the source does not eat the clause anchor
    d = parse_dml(
        "MERGE INTO t USING SELECT a.key FROM a JOIN b ON key = b.k ON key "
        "WHEN MATCHED AND value < 0 THEN UPDATE SET *"
    )
    assert d.kind == "merge_multi"
    assert d.select.strip().endswith("ON key = b.k")
    assert d.clauses == (("update", "value < 0"),)
    # BY SOURCE text inside a string literal is data; the real clause
    # still parses, with its predicate carrying quotes intact
    d = parse_dml(
        "MERGE INTO t USING SELECT 'WHEN NOT MATCHED BY SOURCE' AS doc, "
        "key FROM s ON key "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND note != 'BY SOURCE' THEN DELETE"
    )
    assert d.kind == "merge_multi"
    assert "BY SOURCE' AS doc" in d.select
    assert d.clauses == (("update", ""),)
    assert _by_source_delete(d) == "note != 'BY SOURCE'"


# ---------------------------------------------------------------------------
# UPDATE body splitting (top-level WHERE / comma detection)
# ---------------------------------------------------------------------------


def test_update_set_where_inside_string_not_a_boundary():
    from bazof_spark.sql import parse_dml

    d = parse_dml("UPDATE t SET note = 'set x WHERE y, z' WHERE key = 'a'")
    assert d.sets == (("note", "'set x WHERE y, z'"),)
    assert d.select == "key = 'a'"


def test_update_where_only_inside_subquery_means_all_rows():
    from bazof_spark.sql import parse_dml

    d = parse_dml(
        "UPDATE t SET v = (SELECT max(v) FROM s WHERE s.flag)"
    )
    assert d.sets == (("v", "(SELECT max(v) FROM s WHERE s.flag)"),)
    assert d.select == ""


def test_update_comma_inside_function_args_not_a_split():
    from bazof_spark.sql import parse_dml

    d = parse_dml(
        "UPDATE t SET a = coalesce(a, b, 0), b = greatest(b, 1) "
        "WHERE a < b"
    )
    assert d.sets == (
        ("a", "coalesce(a, b, 0)"),
        ("b", "greatest(b, 1)"),
    )
    assert d.select == "a < b"


def test_update_keyword_inside_string_or_comment_is_not_dml():
    from bazof_spark.sql import parse_dml

    assert parse_dml("SELECT 'UPDATE t SET v = 1' AS s") is None
    assert parse_dml("-- UPDATE t SET v = 1\nSELECT 1") is None
    # leading comment must not hide a real UPDATE
    d = parse_dml("/* note */ UPDATE t SET v = 1")
    assert d is not None and d.kind == "update"


def test_round7_statements_inside_strings_and_comments_inert():
    """The round-7 statement regexes (RENAME COLUMN / ALTER COLUMN TYPE
    / MERGE delete / insert-only) must be statement-leading only: the
    same text inside string literals, comments, or mid-query never
    parses as a statement."""
    from bazof_spark.sql import parse_dml, parse_maintenance

    assert parse_maintenance(
        "SELECT 'ALTER TABLE t RENAME COLUMN a TO b'"
    ) is None
    assert parse_maintenance(
        "-- ALTER TABLE t ALTER COLUMN c TYPE DOUBLE\nSELECT 1"
    ) is None
    assert parse_maintenance(
        "SELECT * FROM alter_table_log"
    ) is None
    assert parse_dml(
        "SELECT 'MERGE INTO t USING s ON key WHEN MATCHED THEN DELETE'"
    ) is None
    assert parse_dml(
        "/* MERGE INTO t USING s ON key WHEN NOT MATCHED THEN INSERT * */"
        " SELECT 1"
    ) is None
    # a string containing the delete suffix inside a REAL merge source
    # is data, not a clause (suffix anchors at end-of-statement)
    d = parse_dml(
        "MERGE INTO t USING SELECT "
        "'ON key WHEN MATCHED THEN DELETE' AS note, key FROM s"
    )
    assert d is not None and d.kind == "merge"


def test_round7_statements_leading_trivia_and_case():
    from bazof_spark.sql import parse_dml, parse_maintenance

    m = parse_maintenance(
        "  -- note\n  alter table X.Y rename column OldN to NewN ;"
    )
    assert m.kind == "alter" and m.rename_columns == (("OldN", "NewN"),)
    m = parse_maintenance(
        "/* c */ ALTER TABLE t ALTER COLUMN n SET DATA TYPE double"
    )
    assert m.widen_columns == (("n", "Float"),)
    d = parse_dml(
        "-- lead\nmerge into t using select * from s on key "
        "when matched and a < 'THEN DELETE' then delete"
    )
    assert d.kind == "merge_delete" and d.clauses[0][1] == "a < 'THEN DELETE'"
    # a leading string literal is a token, not trivia: these are not
    # statements (Spark rejects them), never an unpredicated DELETE
    from bazof_spark.sql import parse_show

    assert parse_dml("'x' DELETE FROM t") is None
    assert parse_dml("'x' /* c */ UPDATE t SET v = 1") is None
    assert parse_maintenance("'x' VACUUM t") is None
    assert parse_show("'x' SHOW TABLES") is None


def test_update_body_parsing_is_linear():
    """A machine-generated UPDATE with thousands of SET commas must
    parse in well under a second: the body split is one token walk,
    never a per-candidate rescan (a quadratic form took tens of
    seconds at this size)."""
    import time

    from bazof_spark.sql import parse_dml

    n = 4000
    body = ", ".join(f"c{i} = coalesce(c{i}, {i})" for i in range(n))
    sql = f"UPDATE t SET {body} WHERE key IN ('a', 'b')"
    t0 = time.perf_counter()
    d = parse_dml(sql)
    elapsed = time.perf_counter() - t0
    assert d.kind == "update" and len(d.sets) == n
    assert d.select == "key IN ('a', 'b')"
    assert elapsed < 2.0, f"UPDATE body parse took {elapsed:.1f}s"


def test_merge_clause_list_generative_roundtrip():
    """Generative parser fuzz: random legal clause lists rendered to
    SQL must parse back to exactly the structures that produced them —
    the splitter can never mis-segment across predicates carrying
    parens, quotes, commas, or CASE…THEN text."""
    import random

    from bazof_spark.sql import parse_dml

    rng = random.Random(42)
    preds = [
        "", "value < 10", "(a AND b) OR c",
        "note = 'WHEN MATCHED THEN DELETE'",
        "CASE WHEN x THEN 1 ELSE 0 END = 1",
        "f(a, b) > g(c, ',')",
    ]
    set_lists = [
        (("v", "1"),),
        (("a", "a + 1"), ("b", "concat(b, ', tail')")),
        (("v", "CASE WHEN v > 0 THEN v ELSE -v END"),),
        (("v", "v * 1.5e-3"), ("w", "w + /* c, THEN */ 2")),
    ]
    for _ in range(200):
        matched = []
        n = rng.randint(0, 3)
        for i in range(n):
            act = rng.choice(["delete", "update", "update_set"])
            # only the LAST matched clause may be unpredicated
            pred = rng.choice(preds[1:] if i < n - 1 else preds)
            if act == "update_set":
                matched.append((act, pred, rng.choice(set_lists)))
            else:
                matched.append((act, pred))
        insert = rng.random() < 0.5
        by_src = rng.choice([None, "", "value < 5"])
        if not matched and not insert and by_src is None:
            continue
        parts = []
        for cl in matched:
            head = "WHEN MATCHED" + (f" AND {cl[1]}" if cl[1] else "")
            if cl[0] == "delete":
                parts.append(f"{head} THEN DELETE")
            elif cl[0] == "update":
                parts.append(f"{head} THEN UPDATE SET *")
            else:
                sets = ", ".join(f"{c} = {e}" for c, e in cl[2])
                parts.append(f"{head} THEN UPDATE SET {sets}")
        if insert:
            parts.append("WHEN NOT MATCHED THEN INSERT *")
        if by_src is not None:
            parts.append(
                "WHEN NOT MATCHED BY SOURCE"
                + (f" AND {by_src}" if by_src else "")
                + " THEN DELETE"
            )
        sql = (
            "MERGE INTO t USING SELECT * FROM src WHERE x = ',' ON key "
            + " ".join(parts)
        )
        d = parse_dml(sql)
        # the canonical two-clause form is the native upsert
        if (
            len(matched) == 1
            and matched[0] == ("update", "")
            and insert
            and by_src is None
        ):
            assert d.kind == "merge", sql
            continue
        if (
            len(matched) == 1
            and matched[0][0] == "delete"
            and not insert
            and by_src is None
        ):
            # ANY lone matched-DELETE (predicated or not) is labelled
            # merge_delete
            assert d.kind == "merge_delete", sql
            assert d.clauses[0][1] == matched[0][1], sql
            continue
        if not matched and insert and by_src is None:
            assert d.kind == "merge_insert", sql
            continue
        assert d.kind == "merge_multi", sql
        assert d.select.strip() == "SELECT * FROM src WHERE x = ','", sql
        assert d.clauses == tuple(matched), sql
        assert d.insert_unmatched == insert, sql
        assert _by_source_delete(d) == by_src, sql
