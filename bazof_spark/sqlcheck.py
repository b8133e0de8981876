"""Token-level SQL grammar — since round 10 the AUTHORITY for the
rewrite's three extraction surfaces.

The reference visits a real sqlparser AST
(crates/azof-datafusion/src/parse.rs:17-118); Spark's parser exposes no
such hook, so this module is the closest equivalent: a tokenizer with
source spans plus single-pass splitters that track parenthesis and
CASE…END nesting instead of regex anchors. Round 9 ran these parsers as
a VALIDATOR behind sql.py's regex pre-pass; round 10 inverted the
roles (the structural risk — embedded CASE WHEN/THEN, strings
containing keywords, nested commas — always lived on the regex side):

- ``merge_tail_ast`` drives the multi-clause MERGE split,
- ``update_body_ast`` drives the UPDATE SET body split,
- ``time_travel_ops`` + ``bare_factor_candidates`` drive the
  time-travel rewrite and table registration,

each handing back ORIGINAL-spelling source slices via token spans. The
legacy regex derivations remain in sql.py as the per-statement CHECKER
(``_regex_merge_tail_ast``, ``_regex_update_body``,
``_regex_rewrite_and_extract``): every statement is still derived
twice and any divergence raises loudly. The fuzz suites
(tests/test_sql_rewrite_fuzz.py) drive both implementations on every
generated statement, keeping the agreement a checked runtime
invariant rather than a tested observation.

No external parser dependency (sqlglot is not available in-sandbox);
the token grammar here is deliberately tiny — exactly the clause
shapes the rewrite owns, nothing else.
"""

from __future__ import annotations

_PUNCT2 = ("<=", ">=", "<>", "!=", "||", "=>")


def tokenize_spans(text: str) -> list[tuple[str, str, int, int]]:
    """(kind, text, start, end) tokens: 'str' single-quoted literals
    ('' escape, verbatim), 'word' identifiers/keywords/numbers (with
    dotted parts), 'punct' single/double-char operators. Comments are
    skipped. An unterminated string tokenizes to its remainder (the
    caller's downstream SQL engine will reject it; splitting must not).
    The (start, end) source offsets are what lets the AUTHORITY parsers
    below hand back ORIGINAL-spelling slices (``text[start:end]``) —
    canonical token-joined respelling could corrupt literals the
    tokenizer reads differently than SQL does (e.g. ``1.5e-3``)."""
    out: list[tuple[str, str, int, int]] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch.isspace():
            i += 1
            continue
        if ch == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            end = min(j + 1, n)
            out.append(("str", text[i:end], i, end))
            i = end
            continue
        if text.startswith("--", i):
            j = text.find("\n", i)
            i = n if j == -1 else j + 1
            continue
        if text.startswith("/*", i):
            j = text.find("*/", i + 2)
            i = n if j == -1 else j + 2
            continue
        if ch.isalnum() or ch in "_$":
            j = i
            while j < n and (text[j].isalnum() or text[j] in "_$."):
                j += 1
            out.append(("word", text[i:j], i, j))
            i = j
            continue
        two = text[i : i + 2]
        if two in _PUNCT2:
            out.append(("punct", two, i, i + 2))
            i += 2
            continue
        out.append(("punct", ch, i, i + 1))
        i += 1
    return out


def tokenize(text: str) -> list[tuple[str, str]]:
    """(kind, text) view of :func:`tokenize_spans`."""
    return [(k, t) for k, t, _, _ in tokenize_spans(text)]


def _raw(text: str, toks, i: int, j: int) -> str:
    """ORIGINAL spelling of the token run [i, j): the source substring
    from the first token's start to the last token's end (leading and
    trailing trivia excluded, everything between tokens preserved)."""
    if i >= j:
        return ""
    return text[toks[i][2] : toks[j - 1][3]]


def _tok_join(tokens: list[tuple[str, str]]) -> str:
    """Canonical single-space spelling of a token run — the comparison
    key both implementations are normalized through."""
    return " ".join(t for _, t in tokens)


def canon(text: str) -> str:
    """Canonicalize an expression string for comparison (whitespace
    squashed OUTSIDE strings, verbatim inside)."""
    return _tok_join(tokenize(text))


def _is_kw(tok, kw: str) -> bool:
    return tok[0] == "word" and tok[1].upper() == kw


def _is_p(tok, p: str) -> bool:
    return tok[0] == "punct" and tok[1] == p


def merge_tail_ast(text: str):
    """AUTHORITY token-level parse of ``<src> ON key WHEN …`` (the text
    after ``MERGE INTO t USING``) — since round 10 this drives the
    rewrite (the regex pass in sql.py re-derives the same split as the
    CHECKER). Returns None when there is no top-level ``WHEN [NOT]
    MATCHED`` clause list; otherwise a dict whose every text field is
    the ORIGINAL source slice::

        {"src": source text,
         "clauses": [  # statement order, all WHEN clauses
            {"neg": bool, "by_src": bool,
             "pred": predicate slice ("" = none),
             "action": "DELETE" | "INSERT *" | "UPDATE SET *"
                       | ("update_set", ((col, expr slice), …))}
         ]}

    Raises ValueError on structurally-broken clause tails (no THEN, a
    malformed head).

    Top-level = parenthesis depth 0 AND CASE…END depth 0, computed on
    the token stream — the property the regex checker approximates
    with string spans + end-anchored search (the reference gets it
    from a real AST, crates/azof-datafusion/src/parse.rs:17-118).
    """
    toks = tokenize_spans(text)
    while toks and _is_p(toks[-1], ";"):  # statement terminator
        toks.pop()
    # depth-annotated positions of clause-starting WHENs
    depth = 0
    case_depth = 0
    whens: list[int] = []
    for idx, tok in enumerate(toks):
        kind, t = tok[0], tok[1]
        if kind == "punct":
            if t == "(":
                depth += 1
            elif t == ")":
                depth = max(0, depth - 1)
            continue
        if kind != "word":
            continue
        u = t.upper()
        if u == "CASE":
            case_depth += 1
        elif u == "END":
            case_depth = max(0, case_depth - 1)
        elif (
            u == "WHEN"
            and depth == 0
            and case_depth == 0
            and idx + 1 < len(toks)
            and (
                _is_kw(toks[idx + 1], "MATCHED")
                or (
                    _is_kw(toks[idx + 1], "NOT")
                    and idx + 2 < len(toks)
                    and _is_kw(toks[idx + 2], "MATCHED")
                )
            )
        ):
            whens.append(idx)
    if not whens:
        return None
    head = toks[: whens[0]]
    # the clause list is only in play when the source ends in ON key
    if len(head) < 2 or not _is_kw(head[-2], "ON") or not (
        head[-1][0] == "word" and head[-1][1].lower() == "key"
    ):
        return None
    src = _raw(text, toks, 0, whens[0] - 2)
    bounds = whens + [len(toks)]
    clauses = []
    for ci in range(len(whens)):
        seg = toks[bounds[ci] : bounds[ci + 1]]
        clauses.append(_parse_clause(text, seg))
    return {"src": src, "clauses": clauses}


def parse_merge_tail(text: str):
    """Canonical view of :func:`merge_tail_ast`: same structure with
    every text field squashed through :func:`canon` — the comparison
    shape the crosscheck and the unit tests use."""
    ast = merge_tail_ast(text)
    if ast is None:
        return None
    return {
        "src": canon(ast["src"]),
        "clauses": [_canon_clause(c) for c in ast["clauses"]],
    }


def _canon_clause(c: dict) -> dict:
    act = c["action"]
    if isinstance(act, tuple):
        act = ("update_set", tuple((col, canon(e)) for col, e in act[1]))
    return {
        "neg": c["neg"],
        "by_src": c["by_src"],
        "pred": canon(c["pred"]),
        "action": act,
    }


def _parse_clause(text: str, seg):
    """One ``WHEN …`` clause from its token run (seg[0] is WHEN);
    extracted fields are original source slices."""
    i = 1
    neg = False
    if i < len(seg) and _is_kw(seg[i], "NOT"):
        neg = True
        i += 1
    if i >= len(seg) or not _is_kw(seg[i], "MATCHED"):
        raise ValueError("clause head is not [NOT] MATCHED")
    i += 1
    by_src = False
    if (
        i + 1 < len(seg)
        and _is_kw(seg[i], "BY")
        and _is_kw(seg[i + 1], "SOURCE")
    ):
        by_src = True
        i += 2
    # locate the top-level THEN separating head from action
    depth = 0
    case_depth = 0
    then_at = None
    for j in range(i, len(seg)):
        kind, t = seg[j][0], seg[j][1]
        if kind == "punct":
            if t == "(":
                depth += 1
            elif t == ")":
                depth = max(0, depth - 1)
            continue
        if kind != "word":
            continue
        u = t.upper()
        if u == "CASE":
            case_depth += 1
        elif u == "END":
            case_depth = max(0, case_depth - 1)
        elif u == "THEN" and depth == 0 and case_depth == 0:
            then_at = j
            break
    if then_at is None:
        s_ = " ".join(t for _, t, _, _ in seg)
        raise ValueError(
            "MERGE clause must end in THEN DELETE, THEN UPDATE SET *, "
            f"or THEN INSERT * — no top-level THEN in: {s_!r}"
        )
    pred_toks = seg[i:then_at]
    pred_lo, pred_hi = i, then_at
    if pred_toks:
        if not _is_kw(pred_toks[0], "AND"):
            raise ValueError("predicate must start with AND")
        pred_lo += 1
        if pred_lo == pred_hi:
            raise ValueError("empty predicate after AND")
    act = seg[then_at + 1 :]
    if not act:
        raise ValueError("empty MERGE action")
    return {
        "neg": neg,
        "by_src": by_src,
        "pred": _raw(text, seg, pred_lo, pred_hi),
        "action": _parse_action(text, act),
    }


def _parse_action(text: str, act):
    if len(act) == 1 and _is_kw(act[0], "DELETE"):
        return "DELETE"
    if len(act) == 2 and _is_kw(act[0], "INSERT") and _is_p(act[1], "*"):
        return "INSERT *"
    if (
        len(act) >= 2
        and _is_kw(act[0], "UPDATE")
        and _is_kw(act[1], "SET")
    ):
        body = act[2:]
        if len(body) == 1 and _is_p(body[0], "*"):
            return "UPDATE SET *"
        return ("update_set", _split_assignments(text, body))
    spelled = " ".join(t for _, t, _, _ in act)
    raise ValueError(
        "MERGE clause must end in THEN DELETE, THEN UPDATE SET *, "
        f"or THEN INSERT * — got: {spelled!r}"
    )


def _split_assignments(text: str, body) -> tuple:
    """``a = e1, b = e2`` token run → ((col, original expr slice), …),
    split at top-level (paren + CASE…END depth 0) commas."""
    depth = 0
    case_depth = 0
    pieces: list[list] = [[]]
    for tok in body:
        kind, t = tok[0], tok[1]
        if kind == "punct":
            if t == "(":
                depth += 1
            elif t == ")":
                depth = max(0, depth - 1)
            elif t == "," and depth == 0 and case_depth == 0:
                pieces.append([])
                continue
        elif kind == "word":
            u = t.upper()
            if u == "CASE":
                case_depth += 1
            elif u == "END":
                case_depth = max(0, case_depth - 1)
        pieces[-1].append(tok)
    sets = []
    for piece in pieces:
        if (
            len(piece) < 3
            or piece[0][0] != "word"
            or not _IDENT_RE.match(piece[0][1])
            or not _is_p(piece[1], "=")
        ):
            spelled = " ".join(t for _, t, _, _ in piece)
            raise ValueError(
                f"assignment is not 'column = expression': {spelled!r}"
            )
        sets.append((piece[0][1], _raw(text, piece, 2, len(piece))))
    return tuple(sets)


def crosscheck_merge_clauses(
    select: str,
    src: str,
    matched: tuple,
    insert_unmatched: bool,
    by_source: tuple,
) -> None:
    """Compare a given extraction against this module's parse of the
    same text; raise ValueError naming the first divergence. Round 9
    ran this behind the regex authority on every statement; since the
    round-10 inversion sql._parse_merge_clauses compares the two
    derivations directly, and this remains as the test-facing probe of
    the token grammar."""
    ast = parse_merge_tail(select)
    if ast is None:
        raise ValueError(
            "validator found no ON key WHEN clause list where the "
            "regex pass extracted one"
        )
    if ast["src"] != canon(src):
        raise ValueError(
            f"source split disagrees: validator {ast['src']!r} vs "
            f"regex {canon(src)!r}"
        )
    # rebuild the regex result in the validator's shape
    expect = []
    for cl in matched:
        if cl[0] == "delete":
            expect.append((False, False, canon(cl[1]), "DELETE"))
        elif cl[0] == "update":
            expect.append((False, False, canon(cl[1]), "UPDATE SET *"))
        else:
            expect.append(
                (
                    False,
                    False,
                    canon(cl[1]),
                    (
                        "update_set",
                        tuple((c, canon(e)) for c, e in cl[2]),
                    ),
                )
            )
    if insert_unmatched:
        expect.append((True, False, "", "INSERT *"))
    for cl in by_source:
        if cl[0] == "delete":
            expect.append((True, True, canon(cl[1]), "DELETE"))
        else:
            expect.append(
                (
                    True,
                    True,
                    canon(cl[1]),
                    (
                        "update_set",
                        tuple((c, canon(e)) for c, e in cl[2]),
                    ),
                )
            )
    got = [
        (c["neg"], c["by_src"], c["pred"], c["action"])
        for c in ast["clauses"]
    ]
    # the regex pass groups clauses by kind; order WITHIN each kind is
    # preserved, so compare as (matched list, insert flag, by_src list)
    got_matched = [c for c in got if not c[0]]
    got_insert = [c for c in got if c[0] and not c[1]]
    got_bysrc = [c for c in got if c[0] and c[1]]
    exp_matched = [c for c in expect if not c[0]]
    exp_insert = [c for c in expect if c[0] and not c[1]]
    exp_bysrc = [c for c in expect if c[0] and c[1]]
    for label, g, e in (
        ("WHEN MATCHED", got_matched, exp_matched),
        ("WHEN NOT MATCHED", got_insert, exp_insert),
        ("WHEN NOT MATCHED BY SOURCE", got_bysrc, exp_bysrc),
    ):
        if g != e:
            raise ValueError(
                f"{label} clauses disagree: validator {g!r} vs regex "
                f"{e!r}"
            )


# ---------------------------------------------------------------------------
# UPDATE t SET … [WHERE …] body (round 9): the second regex surface
# with comma/keyword splitting, validated the same way as MERGE
# ---------------------------------------------------------------------------


def update_body_ast(text: str):
    """AUTHORITY token-level parse of an UPDATE body (everything after
    ``SET``) → ((col, original expr slice), …), original pred slice
    ('' = no WHERE) — since round 10 this drives the rewrite (the
    regex derivation in sql.py is the CHECKER). Splits the first
    top-level WHERE and top-level commas by walking tokens with
    parenthesis + CASE…END depth, never regex anchors."""
    toks = tokenize_spans(text)
    depth = case_depth = 0
    where_at = None
    for i, tok in enumerate(toks):
        kind, t = tok[0], tok[1]
        if kind == "punct":
            if t == "(":
                depth += 1
            elif t == ")":
                depth = max(0, depth - 1)
            continue
        if kind != "word":
            continue
        u = t.upper()
        if u == "CASE":
            case_depth += 1
        elif u == "END":
            case_depth = max(0, case_depth - 1)
        elif u == "WHERE" and depth == 0 and case_depth == 0:
            where_at = i
            break
    pred = "" if where_at is None else _raw(
        text, toks, where_at + 1, len(toks)
    )
    body_toks = toks if where_at is None else toks[:where_at]
    sets = _split_assignments(text, body_toks)
    return sets, pred


def parse_update_body(text: str):
    """Canonical view of :func:`update_body_ast`:
    ((col, canon_expr), …), canon_pred — the comparison shape the
    crosscheck and the unit tests use."""
    sets, pred = update_body_ast(text)
    return tuple((c, canon(e)) for c, e in sets), canon(pred)


def crosscheck_update_body(body: str, sets: tuple, pred: str) -> None:
    """Compare a given UPDATE-body extraction against this module's
    token parse; raise ValueError naming the first divergence (the
    test-facing probe — production statements are compared inside
    sql._parse_update_body since the round-10 inversion)."""
    got_sets, got_pred = parse_update_body(body)
    exp_sets = tuple((c, canon(e)) for c, e in sets)
    if got_sets != exp_sets:
        raise ValueError(
            f"SET assignments disagree: validator {got_sets!r} vs "
            f"regex {exp_sets!r}"
        )
    if got_pred != canon(pred):
        raise ValueError(
            f"WHERE predicate disagrees: validator {got_pred!r} vs "
            f"regex {canon(pred)!r}"
        )


# ---------------------------------------------------------------------------
# Time-travel rewrite extraction (round 9): the OLDEST regex surface —
# AT / FOR SYSTEM_TIME / FOR VERSION / CHANGES clauses and bare table
# factors — re-derived by a positional token walk and compared as a
# canonical key set.
# ---------------------------------------------------------------------------

import re as _re

_IDENT_RE = _re.compile(
    r"[A-Za-z_][A-Za-z0-9_$]*(?:\.[A-Za-z_][A-Za-z0-9_$]*)*\Z"
)
# deliberately duplicated from sql._KEYWORDS: the keyword skip-list is
# part of the behavior under check — if one side learns a keyword the
# other didn't, the crosscheck trips loudly and both get updated
_FACTOR_KEYWORDS = frozenset(
    {"select", "lateral", "unnest", "values", "table", "generate_series"}
)


def _word_at(toks, i: int, kw: str | None = None) -> bool:
    return (
        0 <= i < len(toks)
        and toks[i][0] == "word"
        and (kw is None or toks[i][1].upper() == kw)
    )


def _punct_at(toks, i: int, p: str) -> bool:
    return 0 <= i < len(toks) and toks[i][0] == "punct" and toks[i][1] == p


def _str_at(toks, i: int) -> bool:
    return 0 <= i < len(toks) and toks[i][0] == "str"


def _str_val(toks, i: int) -> str:
    s = toks[i][1]
    return s[1:-1].replace("''", "'")


def _word_ver(toks, i: int):
    r"""The \w+ version literal at token i (bare or quoted), else None
    — mirroring the regex pass's '?(\w+)'? capture. Works on both the
    2-tuple and span token shapes (probes index [0]/[1] only)."""
    if _word_at(toks, i) and _re.fullmatch(r"\w+", toks[i][1]):
        return toks[i][1]
    if _str_at(toks, i):
        sv = _str_val(toks, i)
        if _re.fullmatch(r"\w+", sv):
            return sv
    return None


def parse_time_travel_tables(sql: str) -> set:
    """Independent token-level extraction of every table reference the
    rewrite must register: returns a set of canonical keys
    ("at", name, epoch_millis) | ("version", name, ver) |
    ("changes", name, m1, m2) | ("current", name)."""
    from bazof_spark.asof import epoch_millis, parse_rfc3339

    toks = tokenize(sql)
    n = len(toks)
    keys: set = set()
    clause_end: dict[int, int] = {}  # factor-name token idx -> idx after clause

    from functools import partial

    is_word = partial(_word_at, toks)
    is_punct = partial(_punct_at, toks)
    is_str = partial(_str_at, toks)
    str_val = partial(_str_val, toks)
    word_ver = partial(_word_ver, toks)

    # pass 1: versioned forms, positional
    i = 0
    while i < n:
        kind, t = toks[i]
        if (
            kind == "word"
            and t.upper() == "CHANGES"
            and is_punct(i + 1, "(")
            and is_str(i + 2)
            and is_punct(i + 3, ",")
            and is_str(i + 4)
        ):
            name = str_val(i + 2)
            if _IDENT_RE.match(name):
                since = str_val(i + 4)
                j, until = i + 5, None
                if is_punct(j, ",") and is_str(j + 1):
                    until, j = str_val(j + 1), j + 2
                if is_punct(j, ")"):
                    m1 = epoch_millis(parse_rfc3339(since))
                    m2 = (
                        "current"
                        if until is None
                        else str(epoch_millis(parse_rfc3339(until)))
                    )
                    keys.add(("changes", name, m1, m2))
                    clause_end[i] = j + 1
                    i = j + 1
                    continue
        if kind == "word" and _IDENT_RE.match(t):
            if is_word(i + 1, "AT") and is_punct(i + 2, "("):
                j = i + 3
                if is_word(j, "VERSION") and is_punct(j + 1, "=>"):
                    ver = word_ver(j + 2)
                    if ver is not None and is_punct(j + 3, ")"):
                        keys.add(("version", t, ver))
                        clause_end[i] = j + 4
                        i = j + 4
                        continue
                else:
                    if is_word(j, "TIMESTAMP") and is_punct(j + 1, "=>"):
                        j += 2
                    if is_str(j) and is_punct(j + 1, ")"):
                        keys.add(
                            ("at", t, epoch_millis(parse_rfc3339(str_val(j))))
                        )
                        clause_end[i] = j + 2
                        i = j + 2
                        continue
            if is_word(i + 1, "FOR"):
                if (
                    is_word(i + 2, "SYSTEM_TIME")
                    and is_word(i + 3, "AS")
                    and is_word(i + 4, "OF")
                    and is_str(i + 5)
                ):
                    keys.add(
                        ("at", t, epoch_millis(parse_rfc3339(str_val(i + 5))))
                    )
                    clause_end[i] = i + 6
                    i += 6
                    continue
                if (
                    is_word(i + 2, "VERSION")
                    and is_word(i + 3, "AS")
                    and is_word(i + 4, "OF")
                ):
                    ver = word_ver(i + 5)
                    if ver is not None:
                        keys.add(("version", t, ver))
                        clause_end[i] = i + 6
                        i += 6
                        continue
        i += 1

    # pass 2: CTE / named-window definitions shadow table names
    cte: set[str] = set()
    for i in range(n):
        head = None
        if is_word(i, "WITH"):
            head = i + 2 if is_word(i + 1, "RECURSIVE") else i + 1
        elif is_punct(i, ","):
            head = i + 1
        if (
            head is not None
            and is_word(head)
            and _IDENT_RE.match(toks[head][1])
            and is_word(head + 1, "AS")
            and is_punct(head + 2, "(")
        ):
            cte.add(toks[head][1])

    # pass 3: bare factors after FROM/JOIN plus comma continuations
    def register(idx):
        name = toks[idx][1]
        if idx in clause_end:
            return clause_end[idx]
        if name.lower() not in _FACTOR_KEYWORDS and name not in cte:
            keys.add(("current", name))
        return idx + 1

    i = 0
    while i < n:
        if is_word(i) and toks[i][1].upper() in ("FROM", "JOIN"):
            j = i + 1
            if not (is_word(j) and _IDENT_RE.match(toks[j][1])):
                i += 1
                continue
            j = register(j)
            while True:
                # optional alias then comma, mirroring the regex walk:
                # try (AS x ,) then (x ,) then bare (,)
                if (
                    is_word(j, "AS")
                    and is_word(j + 1)
                    and is_punct(j + 2, ",")
                    and is_word(j + 3)
                    and _IDENT_RE.match(toks[j + 3][1])
                ):
                    j = register(j + 3)
                elif (
                    is_word(j)
                    and is_punct(j + 1, ",")
                    and is_word(j + 2)
                    and _IDENT_RE.match(toks[j + 2][1])
                ):
                    j = register(j + 2)
                elif (
                    is_punct(j, ",")
                    and is_word(j + 1)
                    and _IDENT_RE.match(toks[j + 1][1])
                ):
                    j = register(j + 1)
                else:
                    break
            i = j
            continue
        i += 1
    return keys


def crosscheck_time_travel(sql: str, tables) -> None:
    """Compare a (sql, tables) extraction against the token walk's
    canonical key set; raise ValueError naming the divergence (the
    test-facing probe — production rewrites are compared in full,
    string + ordered table list, inside sql.rewrite_and_extract_tables
    since the round-10 inversion)."""
    from bazof_spark.asof import epoch_millis

    expect = set()
    for vt in tables:
        if vt.changes is not None:
            m1, m2 = vt.versioned_name.rsplit("_", 2)[-2:]
            expect.add(("changes", vt.name, int(m1), m2))
        elif vt.version is not None:
            expect.add(("version", vt.name, vt.version))
        elif not vt.as_of.is_current:
            expect.add(("at", vt.name, epoch_millis(vt.as_of.event_time_at)))
        else:
            expect.add(("current", vt.name))
    got = parse_time_travel_tables(sql)
    if got != expect:
        raise ValueError(
            f"table extraction disagrees: validator-only "
            f"{sorted(got - expect)!r}, regex-only {sorted(expect - got)!r}"
        )


# ---------------------------------------------------------------------------
# Time-travel AUTHORITY (round 10): the positional token walk above,
# extended with source spans, now DRIVES rewrite_and_extract_tables —
# sql.py applies these replacement ops and then re-derives the whole
# rewrite with its regex pipeline as the CHECKER (divergence raises).
# ---------------------------------------------------------------------------


def time_travel_ops(sql: str) -> list[dict]:
    """Versioned-clause replacement ops for the rewrite, ordered by
    (family rank, position) — exactly the order the regex checker's
    sequential substitution passes apply in (CHANGES, AT(VERSION =>),
    FOR VERSION AS OF, AT('ts'), FOR SYSTEM_TIME AS OF), so the two
    derivations register tables identically. Each op carries the
    source span [start, end) to replace and the replacement name:

      {"kind": "at",      "name", "ts", "millis", "start", "end"}
      {"kind": "version", "name", "ver",          "start", "end"}
      {"kind": "changes", "name", "since", "until", "m1", "m2", …}

    Timestamps are validated in application order; a bad one raises
    ValueError with the rewrite's legacy message (sql.py re-raises it
    as SqlRewriteError verbatim)."""
    from bazof_spark.asof import epoch_millis, parse_rfc3339

    toks = tokenize_spans(sql)
    n = len(toks)

    from functools import partial

    is_word = partial(_word_at, toks)
    is_punct = partial(_punct_at, toks)
    is_str = partial(_str_at, toks)
    str_val = partial(_str_val, toks)
    word_ver = partial(_word_ver, toks)

    raw_ops: list[tuple[int, int, dict]] = []  # (rank, start, op)
    i = 0
    while i < n:
        kind, t = toks[i][0], toks[i][1]
        if (
            kind == "word"
            and t.upper() == "CHANGES"
            and is_punct(i + 1, "(")
            and is_str(i + 2)
            and is_punct(i + 3, ",")
            and is_str(i + 4)
        ):
            name = str_val(i + 2)
            if _IDENT_RE.match(name):
                since = str_val(i + 4)
                j, until = i + 5, None
                if is_punct(j, ",") and is_str(j + 1):
                    until, j = str_val(j + 1), j + 2
                if is_punct(j, ")"):
                    raw_ops.append(
                        (
                            0,
                            toks[i][2],
                            {
                                "kind": "changes",
                                "name": name,
                                "since": since,
                                "until": until,
                                "start": toks[i][2],
                                "end": toks[j][3],
                            },
                        )
                    )
                    i = j + 1
                    continue
        if kind == "word" and _IDENT_RE.match(t):
            if is_word(i + 1, "AT") and is_punct(i + 2, "("):
                j = i + 3
                if is_word(j, "VERSION") and is_punct(j + 1, "=>"):
                    ver = word_ver(j + 2)
                    if ver is not None and is_punct(j + 3, ")"):
                        raw_ops.append(
                            (
                                1,
                                toks[i][2],
                                {
                                    "kind": "version",
                                    "name": t,
                                    "ver": ver,
                                    "start": toks[i][2],
                                    "end": toks[j + 3][3],
                                },
                            )
                        )
                        i = j + 4
                        continue
                else:
                    j2 = j
                    if is_word(j2, "TIMESTAMP") and is_punct(j2 + 1, "=>"):
                        j2 += 2
                    if is_str(j2) and is_punct(j2 + 1, ")"):
                        raw_ops.append(
                            (
                                3,
                                toks[i][2],
                                {
                                    "kind": "at",
                                    "name": t,
                                    "ts": str_val(j2),
                                    "start": toks[i][2],
                                    "end": toks[j2 + 1][3],
                                },
                            )
                        )
                        i = j2 + 2
                        continue
            if is_word(i + 1, "FOR"):
                if (
                    is_word(i + 2, "SYSTEM_TIME")
                    and is_word(i + 3, "AS")
                    and is_word(i + 4, "OF")
                    and is_str(i + 5)
                ):
                    raw_ops.append(
                        (
                            4,
                            toks[i][2],
                            {
                                "kind": "at",
                                "name": t,
                                "ts": str_val(i + 5),
                                "start": toks[i][2],
                                "end": toks[i + 5][3],
                            },
                        )
                    )
                    i += 6
                    continue
                if (
                    is_word(i + 2, "VERSION")
                    and is_word(i + 3, "AS")
                    and is_word(i + 4, "OF")
                ):
                    ver = word_ver(i + 5)
                    if ver is not None:
                        raw_ops.append(
                            (
                                2,
                                toks[i][2],
                                {
                                    "kind": "version",
                                    "name": t,
                                    "ver": ver,
                                    "start": toks[i][2],
                                    "end": toks[i + 5][3],
                                },
                            )
                        )
                        i += 6
                        continue
        i += 1

    raw_ops.sort(key=lambda e: (e[0], e[1]))
    ops = []
    for _, _, op in raw_ops:
        if op["kind"] == "at":
            try:
                op["millis"] = epoch_millis(parse_rfc3339(op["ts"]))
            except ValueError as exc:
                raise ValueError(
                    f"invalid time-travel timestamp {op['ts']!r} for "
                    f"table {op['name']!r}: {exc}"
                ) from exc
        elif op["kind"] == "changes":
            try:
                op["m1"] = epoch_millis(parse_rfc3339(op["since"]))
                op["m2"] = (
                    "current"
                    if op["until"] is None
                    else str(epoch_millis(parse_rfc3339(op["until"])))
                )
            except ValueError as exc:
                raise ValueError(
                    f"invalid CHANGES timestamp for table "
                    f"{op['name']!r}: {exc}"
                ) from exc
        ops.append(op)
    return ops


def bare_factor_candidates(text: str) -> list[str]:
    """Bare table factors after FROM/JOIN (plus comma continuations),
    in positional order, with CTE-defined names and the factor-keyword
    skip list already filtered — the token twin of the regex checker's
    _TABLE_FACTOR_RE/_COMMA_FACTOR_RE walk, run by the authority on
    the REWRITTEN statement (where every versioned clause has already
    collapsed to its versioned name). Duplicates are preserved; the
    caller applies its ``seen`` dedup."""
    toks = tokenize_spans(text)
    n = len(toks)

    from functools import partial

    is_word = partial(_word_at, toks)
    is_punct = partial(_punct_at, toks)

    cte: set[str] = set()
    for i in range(n):
        head = None
        if is_word(i, "WITH"):
            head = i + 2 if is_word(i + 1, "RECURSIVE") else i + 1
        elif is_punct(i, ","):
            head = i + 1
        if (
            head is not None
            and is_word(head)
            and _IDENT_RE.match(toks[head][1])
            and is_word(head + 1, "AS")
            and is_punct(head + 2, "(")
        ):
            cte.add(toks[head][1])

    out: list[str] = []

    def register(idx):
        name = toks[idx][1]
        if name.lower() not in _FACTOR_KEYWORDS and name not in cte:
            out.append(name)
        return idx + 1

    i = 0
    while i < n:
        if is_word(i) and toks[i][1].upper() in ("FROM", "JOIN"):
            j = i + 1
            if not (is_word(j) and _IDENT_RE.match(toks[j][1])):
                i += 1
                continue
            j = register(j)
            while True:
                if (
                    is_word(j, "AS")
                    and is_word(j + 1)
                    and is_punct(j + 2, ",")
                    and is_word(j + 3)
                    and _IDENT_RE.match(toks[j + 3][1])
                ):
                    j = register(j + 3)
                elif (
                    is_word(j)
                    and is_punct(j + 1, ",")
                    and is_word(j + 2)
                    and _IDENT_RE.match(toks[j + 2][1])
                ):
                    j = register(j + 2)
                elif (
                    is_punct(j, ",")
                    and is_word(j + 1)
                    and _IDENT_RE.match(toks[j + 1][1])
                ):
                    j = register(j + 1)
                else:
                    break
            i = j
            continue
        i += 1
    return out
