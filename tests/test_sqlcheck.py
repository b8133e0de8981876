"""The token-level SQL grammar (bazof_spark/sqlcheck.py) — the only
SQL extraction code behind the time-travel rewrite, the MERGE clause
split and the UPDATE body split. These tests pin its grammar directly
and, through generators, check sql.py's outputs against statements
whose expected parse is known by construction."""

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.sql import parse_dml, rewrite_and_extract_tables  # noqa: E402
from bazof_spark.sqlcheck import (  # noqa: E402
    bare_factor_candidates,
    merge_tail_ast,
    time_travel_ops,
    tokenize_spans,
    update_body_ast,
)


def test_tokenizer_strings_comments_operators():
    src = "a >= 'x -- not a comment' -- real\n/*c*/ b.c <> 1.5"
    toks = tokenize_spans(src)
    assert [(k, t) for k, t, _, _ in toks] == [
        ("word", "a"),
        ("punct", ">="),
        ("str", "'x -- not a comment'"),
        ("word", "b.c"),
        ("punct", "<>"),
        ("word", "1.5"),
    ]
    # comments are skipped, so the spans jump over them
    assert src[toks[2][3]:toks[3][2]] == " -- real\n/*c*/ "
    # '' escape stays inside one string token
    assert [(k, t) for k, t, _, _ in tokenize_spans("'a''b'")] == [
        ("str", "'a''b'")
    ]


def test_merge_tail_ast_tracks_case_and_paren_depth():
    r = merge_tail_ast(
        "SELECT * FROM s ON key "
        "WHEN MATCHED AND CASE WHEN x THEN true ELSE false END "
        "THEN UPDATE SET v = CASE WHEN a THEN 1 ELSE 2 END, "
        "w = f(a, b) "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert r["src"] == "SELECT * FROM s"
    c0, c1 = r["clauses"]
    assert c0["pred"] == "CASE WHEN x THEN true ELSE false END"
    assert c0["action"] == (
        "update_set",
        (("v", "CASE WHEN a THEN 1 ELSE 2 END"), ("w", "f(a, b)")),
    )
    assert c1 == {
        "neg": True, "by_src": False, "pred": "", "action": "INSERT *"
    }
    # WHEN MATCHED inside parens (a subquery) is NOT a clause start
    r = merge_tail_ast(
        "SELECT * FROM s ON key WHEN MATCHED AND x IN "
        "(SELECT k FROM log WHERE note = 'WHEN MATCHED') THEN DELETE"
    )
    assert len(r["clauses"]) == 1
    # no ON key before the first WHEN → not a clause list
    assert merge_tail_ast("SELECT * FROM s WHEN MATCHED THEN DELETE") is None


def test_validator_is_live_in_parse_dml():
    """End-to-end: parse_dml takes the clause split from the
    depth-tracking token walk, so a clause-starting keyword pair inside
    an unparenthesized CASE never splits a clause."""
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED AND v = CASE WHEN x THEN 1 ELSE 2 END THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.clauses == (("delete", "v = CASE WHEN x THEN 1 ELSE 2 END"),)
    # a column literally named `matched` inside CASE WHEN stays part of
    # the predicate
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED AND CASE WHEN matched THEN 1 ELSE 0 END = 1 "
        "THEN DELETE WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.kind == "merge_multi"
    assert d.select == "SELECT * FROM s"
    assert d.clauses == (
        ("delete", "CASE WHEN matched THEN 1 ELSE 0 END = 1"),
    )
    assert d.insert_unmatched


# ---------------------------------------------------------------------------
# UPDATE body
# ---------------------------------------------------------------------------


def test_update_body_ast_grammar():
    sets, pred = update_body_ast(
        "a = coalesce(b, ',WHERE'), c = CASE WHEN x IN (1,2) THEN 'w, z' "
        "ELSE f(y, 2) END WHERE note = 'WHERE a = 1, b = 2' AND k > 3"
    )
    assert sets == (
        ("a", "coalesce(b, ',WHERE')"),
        ("c", "CASE WHEN x IN (1,2) THEN 'w, z' ELSE f(y, 2) END"),
    )
    assert pred == "note = 'WHERE a = 1, b = 2' AND k > 3"
    # no WHERE
    sets, pred = update_body_ast("v = v + 1")
    assert sets == (("v", "v + 1"),) and pred == ""
    with pytest.raises(ValueError, match="column = expression"):
        update_body_ast("not-an-assignment")


def test_update_validator_is_live_in_parse_dml():
    """parse_dml splits every UPDATE body with the token walk; a
    statement whose strings contain WHERE/comma/assignment text must
    still extract cleanly, in original spelling."""
    st = parse_dml(
        "UPDATE t SET note = 'WHERE v = 1, w = 2', v = CASE WHEN "
        "v IN (1,2) THEN v + 1 ELSE 0 END WHERE tag = ', WHERE '"
    )
    assert st is not None and st.kind == "update"
    assert st.sets == (
        ("note", "'WHERE v = 1, w = 2'"),
        ("v", "CASE WHEN v IN (1,2) THEN v + 1 ELSE 0 END"),
    )
    assert st.select == "tag = ', WHERE '"


def test_update_fuzz_both_parsers_agree():
    """Generative: random assignment lists with string/paren/CASE
    booby traps parse back to exactly the assignments and predicate
    that produced them, for 200 seeds."""
    exprs = [
        "1", "v + 1", "coalesce(a, b, ',')", "'WHERE x = 1, y = 2'",
        "CASE WHEN a IN (1,2) THEN ',' ELSE 'THEN' END",
        "f(g(h(x, 'WHERE')), 2)", "a || ', b = 9'",
        # scientific literals the tokenizer reads as three tokens (span
        # slicing must return them intact) and block comments inside
        # expressions (slices keep interior trivia)
        "v * 1.5e-3", "v + /* bump, WHERE */ 1",
    ]
    preds = [None, "k = 1", "note = ', WHERE ' AND v > 2",
             "CASE WHEN k = 1 THEN true ELSE false END"]
    rng = random.Random(909)
    for _ in range(200):
        cols = [f"c{i}" for i in range(rng.randint(1, 5))]
        sets = [(c, rng.choice(exprs)) for c in cols]
        body = ", ".join(f"{c} = {e}" for c, e in sets)
        pred = rng.choice(preds)
        stmt = f"UPDATE t SET {body}" + (f" WHERE {pred}" if pred else "")
        st = parse_dml(stmt)
        assert st is not None and st.kind == "update"
        assert st.sets == tuple(sets)
        assert st.select == (pred or "")


# ---------------------------------------------------------------------------
# Time-travel rewrite
# ---------------------------------------------------------------------------

AT1 = 1704067200000  # 2024-01-01T00:00:00Z
AT2 = 1706745600000  # 2024-02-01T00:00:00Z


def test_rewrite_extracts_all_table_forms():
    _, tables = rewrite_and_extract_tables(
        "WITH c AS (SELECT 1) "
        "SELECT * FROM t AT ('2024-01-01T00:00:00Z') a "
        "JOIN t FOR SYSTEM_TIME AS OF '2024-02-01T00:00:00Z' b ON a.k = b.k "
        "JOIN u FOR VERSION AS OF 3 ON 1=1 "
        "JOIN v AT(VERSION => '7') ON 1=1 "
        "JOIN c ON 1=1 "
        "JOIN CHANGES('w', '2024-01-01T00:00:00Z', '2024-03-01T00:00:00Z') "
        "ON 1=1 JOIN x, y ON 1=1"
    )
    assert {
        (t.name, t.versioned_name, t.version, t.changes) for t in tables
    } == {
        ("t", f"t__{AT1}", None, None),
        ("t", f"t__{AT2}", None, None),
        ("u", "u__v3", "3", None),
        ("v", "v__v7", "7", None),
        (
            "w",
            f"w__changes_{AT1}_1709251200000",
            None,
            ("2024-01-01T00:00:00Z", "2024-03-01T00:00:00Z"),
        ),
        ("x", "x", None, None),
        ("y", "y", None, None),
    }
    # strings/comments never produce references
    sql = (
        "SELECT ' FROM fake AT (''2024-01-01T00:00:00Z'') ' AS s "
        "-- FROM ghost\n FROM real"
    )
    out, tables = rewrite_and_extract_tables(sql)
    assert out == sql
    assert [(t.name, t.versioned_name) for t in tables] == [("real", "real")]


def test_time_travel_rewrite_comma_list_and_self_join():
    sql = (
        "SELECT * FROM fin AT ('2019-01-17T00:00:00.000Z') f, extra "
        "JOIN fin ON 1=1"
    )
    rewritten, tables = rewrite_and_extract_tables(sql)
    assert rewritten == (
        "SELECT * FROM fin__1547683200000 f, extra JOIN fin ON 1=1"
    )
    assert [(t.name, t.versioned_name) for t in tables] == [
        ("fin", "fin__1547683200000"), ("extra", "extra"), ("fin", "fin"),
    ]


def test_time_travel_fuzz_both_extractors_agree():
    """Generative: 300 random query skeletons mixing versioned forms,
    CTE shadows, aliases, comma lists, commas after a JOIN condition,
    and booby-trapped strings. The rewritten SQL and the ordered
    (name, versioned_name) list must equal what the generator built:
    versioned clauses first, by family (CHANGES, AT(VERSION =>),
    FOR VERSION AS OF, AT('ts'), FOR SYSTEM_TIME AS OF) then position;
    then bare factors in position order; each name once."""
    rng = random.Random(4242)
    millis = {
        "2024-01-01T00:00:00Z": AT1,
        "2023-06-15T12:30:00Z": 1686832200000,
    }
    stamps = list(millis)

    def factor(t):
        """(sql, rewritten, family rank or None for a bare factor)"""
        form = rng.randrange(8)
        ts, v = rng.choice(stamps), rng.randint(1, 9)
        return [
            (t, t, None),
            (f"{t} AT ('{ts}')", f"{t}__{millis[ts]}", 3),
            (f"{t} AT(TIMESTAMP => '{ts}')", f"{t}__{millis[ts]}", 3),
            (f"{t} FOR SYSTEM_TIME AS OF '{ts}'", f"{t}__{millis[ts]}", 4),
            (f"{t} FOR VERSION AS OF {v}", f"{t}__v{v}", 2),
            (f"{t} AT(VERSION => {v})", f"{t}__v{v}", 1),
            (
                f"CHANGES('{t}', '{ts}')",
                f"{t}__changes_{millis[ts]}_current",
                0,
            ),
            (
                f"CHANGES('{t}', '{stamps[0]}', '{stamps[1]}')",
                f"{t}__changes_{AT1}_{millis[stamps[1]]}",
                0,
            ),
        ][form]

    traps = [
        "' FROM ghost AT (''2024-01-01T00:00:00Z'') '",
        "', fake2'",
        "'JOIN j2'",
    ]
    conds = ["ON 1=1", "ON f(a, b) = g(c, ',')", "USING (k)"]
    join_comma_seen = 0
    for _ in range(300):
        names = [f"t{rng.randint(0, 4)}" for _ in range(rng.randint(1, 4))]
        facs = [factor(t) for t in names]
        head = "WITH shadow AS (SELECT 1) " if rng.random() < 0.3 else ""
        trap = rng.choice(traps)
        alias = "" if rng.random() < 0.5 else " z"
        q = f"{head}SELECT {trap} AS s FROM {facs[0][0]}{alias}"
        want = f"{head}SELECT {trap} AS s FROM {facs[0][1]}{alias}"
        for sql, rewritten, _ in facs[1:]:
            if rng.random() < 0.5:
                cond = rng.choice(conds)
                q += f" JOIN {sql} {cond}"
                want += f" JOIN {rewritten} {cond}"
            else:
                join_comma_seen += " JOIN " in q
                q += f", {sql}"
                want += f", {rewritten}"
        bare = [
            (n, rw) for n, (_, rw, rank) in zip(names, facs) if rank is None
        ]
        if rng.random() < 0.3:
            q += " JOIN shadow ON 1=1"
            want += " JOIN shadow ON 1=1"
            if not head:  # no CTE: a real (bare) table factor
                bare.append(("shadow", "shadow"))
        versioned = sorted(
            (rank, pos, n, rw)
            for pos, (n, (_, rw, rank)) in enumerate(zip(names, facs))
            if rank is not None
        )
        expected, seen = [], set()
        for n, rw in [(n, rw) for _, _, n, rw in versioned] + bare:
            if rw not in seen:
                seen.add(rw)
                expected.append((n, rw))
        rewritten, tables = rewrite_and_extract_tables(q)
        assert rewritten == want, q
        assert [(t.name, t.versioned_name) for t in tables] == expected, q
    assert join_comma_seen > 20  # the JOIN … ON …, t shape is exercised


# ---------------------------------------------------------------------------
# Source spans: every parser hands back original-spelling slices
# ---------------------------------------------------------------------------


def test_tokenize_spans_offsets_slice_back_to_source():
    src = "a >= 'x -- s' /*c*/ b.c <> 1.5e-3"
    toks = tokenize_spans(src)
    for kind, text, start, end in toks:
        assert src[start:end] == text, (kind, text)
    # scientific notation splits into word/punct/word — the reason the
    # parsers hand back SLICES, never token re-joins
    assert [t[1] for t in toks[-3:]] == ["1.5e", "-", "3"]
    assert src[toks[-3][2]:toks[-1][3]] == "1.5e-3"


def test_merge_tail_ast_returns_original_spelling():
    ast = merge_tail_ast(
        "SELECT  *  FROM s ON key "
        "WHEN MATCHED AND v > 1.5e-3 THEN UPDATE SET v = f( a , 1 ), "
        "w = 'a,b' WHEN NOT MATCHED THEN INSERT *"
    )
    assert ast["src"] == "SELECT  *  FROM s"  # interior spacing kept
    c0 = ast["clauses"][0]
    assert c0["pred"] == "v > 1.5e-3"
    assert c0["action"] == (
        "update_set", (("v", "f( a , 1 )"), ("w", "'a,b'"))
    )


def test_update_body_ast_returns_original_spelling():
    sets, pred = update_body_ast(
        "v = v * 1.5e-3, w = coalesce(a,  b) WHERE k = 'x WHERE y'"
    )
    assert sets == (("v", "v * 1.5e-3"), ("w", "coalesce(a,  b)"))
    assert pred == "k = 'x WHERE y'"


def test_time_travel_ops_spans_and_family_order():
    sql = (
        "SELECT * FROM t AT ('2024-01-01T00:00:00Z') "
        "JOIN CHANGES('w', '2024-01-01T00:00:00Z') ON 1=1 "
        "JOIN u FOR VERSION AS OF 3 ON 1=1"
    )
    ops = time_travel_ops(sql)
    # registration order: CHANGES, then versions, then AT
    assert [op["kind"] for op in ops] == ["changes", "version", "at"]
    for op in ops:
        frag = sql[op["start"]:op["end"]]
        assert op["name"] in frag or op["kind"] == "changes"
    at = ops[-1]
    assert sql[at["start"]:at["end"]] == "t AT ('2024-01-01T00:00:00Z')"
    with pytest.raises(ValueError, match="invalid time-travel timestamp"):
        time_travel_ops("SELECT * FROM t AT ('junk')")
    with pytest.raises(ValueError, match="invalid CHANGES timestamp"):
        time_travel_ops("SELECT * FROM CHANGES('t', 'junk')")


def test_bare_factor_candidates_order_and_filters():
    got = bare_factor_candidates(
        "WITH shadow AS (SELECT 1) "
        "SELECT ' FROM ghost ' FROM a x, b JOIN shadow ON 1=1 "
        "JOIN select_free ON 1=1"
    )
    # positional order, CTE 'shadow' filtered, string content ignored
    assert got == ["a", "b", "select_free"]
    assert bare_factor_candidates("SELECT 1 FROM a, b, c") == [
        "a", "b", "c"
    ]
    # a comma after a JOIN's ON/USING condition continues the factor
    # list; commas inside the condition's parens do not, and a subquery
    # in the condition registers in position order
    assert bare_factor_candidates(
        "SELECT 1 FROM a JOIN b ON a.k = b.k, c"
    ) == ["a", "b", "c"]
    assert bare_factor_candidates(
        "SELECT 1 FROM a JOIN b x USING (k, j), c "
        "JOIN d AS y ON f(a, b) IN (SELECT k FROM e), g h, i "
        "WHERE k IN (1, 2) ORDER BY p, q"
    ) == ["a", "b", "c", "d", "e", "g", "i"]
