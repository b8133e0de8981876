"""Token-level SQL grammar: the only SQL extraction code of the rewrite.

The reference visits a real sqlparser AST
(crates/azof-datafusion/src/parse.rs:17-118); Spark's parser exposes no
such hook, so this module is the closest equivalent: a tokenizer with
source spans plus single-pass walks that track string, comment,
parenthesis and CASE…END nesting instead of regex anchors.

- ``merge_tail_ast`` splits a multi-clause MERGE,
- ``update_body_ast`` splits an UPDATE SET body,
- ``time_travel_ops`` + ``bare_factor_candidates`` drive the
  time-travel rewrite and table registration,

each handing back ORIGINAL-spelling source slices via token spans
(sql.py maps them onto the rewrite and ``DmlStatement``). The fuzz
suites (tests/test_sqlcheck.py, tests/test_sql_rewrite_fuzz.py) check
them against statements whose expected parse is known by construction.

No external parser dependency; the token grammar here is deliberately
tiny — exactly the clause shapes the rewrite owns, nothing else.
"""

from __future__ import annotations

import re
from functools import partial

from bazof_spark.asof import epoch_millis, parse_rfc3339

_PUNCT2 = ("<=", ">=", "<>", "!=", "||", "=>")


def tokenize_spans(text: str) -> list[tuple[str, str, int, int]]:
    """(kind, text, start, end) tokens: 'str' single-quoted literals
    ('' escape, verbatim), 'word' identifiers/keywords/numbers (with
    dotted parts), 'punct' single/double-char operators. Comments are
    skipped. An unterminated string tokenizes to its remainder (the
    caller's downstream SQL engine will reject it; splitting must not).
    The (start, end) source offsets are what lets the parsers below
    hand back ORIGINAL-spelling slices (``text[start:end]``) —
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


def _raw(text: str, toks, i: int, j: int) -> str:
    """ORIGINAL spelling of the token run [i, j): the source substring
    from the first token's start to the last token's end (leading and
    trailing trivia excluded, everything between tokens preserved)."""
    if i >= j:
        return ""
    return text[toks[i][2] : toks[j - 1][3]]


def _is_kw(tok, kw: str) -> bool:
    return tok[0] == "word" and tok[1].upper() == kw


def _is_p(tok, p: str) -> bool:
    return tok[0] == "punct" and tok[1] == p


def merge_tail_ast(text: str):
    """Token-level parse of ``<src> ON key WHEN …`` (the text after
    ``MERGE INTO t USING``). Returns None when there is no top-level
    ``WHEN [NOT] MATCHED`` clause list; otherwise a dict whose every
    text field is the ORIGINAL source slice::

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
    the token stream (the reference gets it from a real AST,
    crates/azof-datafusion/src/parse.rs:17-118).
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


# ---------------------------------------------------------------------------
# UPDATE t SET … [WHERE …] body
# ---------------------------------------------------------------------------


def update_body_ast(text: str):
    """Token-level parse of an UPDATE body (everything after ``SET``)
    → ((col, original expr slice), …), original pred slice ('' = no
    WHERE). Splits the first top-level WHERE and top-level commas by
    walking tokens with parenthesis + CASE…END depth, never regex
    anchors."""
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


# ---------------------------------------------------------------------------
# Time-travel rewrite: AT / FOR SYSTEM_TIME / FOR VERSION / CHANGES
# clauses and bare table factors, found by a positional token walk
# ---------------------------------------------------------------------------

_IDENT_RE = re.compile(
    r"[A-Za-z_][A-Za-z0-9_$]*(?:\.[A-Za-z_][A-Za-z0-9_$]*)*\Z"
)
# words in table-factor position that are not table names
_FACTOR_KEYWORDS = frozenset(
    {"select", "lateral", "unnest", "values", "table", "generate_series"}
)
# words that end a JOIN's ON …/USING (…) condition at paren depth 0
_CONDITION_END_KEYWORDS = frozenset(
    {
        "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "NATURAL",
        "SEMI", "ANTI", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
        "OFFSET", "UNION", "INTERSECT", "EXCEPT", "MINUS", "WINDOW",
        "QUALIFY", "CLUSTER", "DISTRIBUTE", "SORT", "LATERAL", "PIVOT",
        "UNPIVOT", "FROM", "SELECT",
    }
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


def _ident_at(toks, i: int) -> bool:
    return _word_at(toks, i) and _IDENT_RE.match(toks[i][1]) is not None


def _word_ver(toks, i: int):
    r"""The \w+ version literal at token i, bare (``3``) or quoted
    (``'3'``), else None."""
    if _word_at(toks, i) and re.fullmatch(r"\w+", toks[i][1]):
        return toks[i][1]
    if _str_at(toks, i):
        sv = _str_val(toks, i)
        if re.fullmatch(r"\w+", sv):
            return sv
    return None


def _op(rank: int, toks, i: int, last: int, **fields):
    """(rank, start, op) for the clause spanning tokens i..last."""
    start = toks[i][2]
    return rank, start, {**fields, "start": start, "end": toks[last][3]}


def time_travel_ops(sql: str) -> list[dict]:
    """Versioned-clause replacement ops for the rewrite, in
    registration order: by clause family (CHANGES, AT(VERSION =>),
    FOR VERSION AS OF, AT('ts'), FOR SYSTEM_TIME AS OF), then by
    position. The rewrite registers tables in this order, so it is the
    order of the returned table list and must not change. Each op
    carries the source span [start, end) to replace and the
    replacement name:

      {"kind": "at",      "name", "ts", "millis", "start", "end"}
      {"kind": "version", "name", "ver",          "start", "end"}
      {"kind": "changes", "name", "since", "until", "m1", "m2", …}

    Timestamps are validated in registration order; a bad one raises
    ValueError (sql.py re-raises it as SqlRewriteError verbatim)."""
    toks = tokenize_spans(sql)
    n = len(toks)
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
                    raw_ops.append(_op(
                        0, toks, i, j, kind="changes", name=name,
                        since=since, until=until,
                    ))
                    i = j + 1
                    continue
        if _ident_at(toks, i):
            if is_word(i + 1, "AT") and is_punct(i + 2, "("):
                j = i + 3
                if is_word(j, "VERSION") and is_punct(j + 1, "=>"):
                    ver = word_ver(j + 2)
                    if ver is not None and is_punct(j + 3, ")"):
                        raw_ops.append(_op(
                            1, toks, i, j + 3, kind="version", name=t,
                            ver=ver,
                        ))
                        i = j + 4
                        continue
                else:
                    if is_word(j, "TIMESTAMP") and is_punct(j + 1, "=>"):
                        j += 2
                    if is_str(j) and is_punct(j + 1, ")"):
                        raw_ops.append(_op(
                            3, toks, i, j + 1, kind="at", name=t,
                            ts=str_val(j),
                        ))
                        i = j + 2
                        continue
            if is_word(i + 1, "FOR") and is_word(i + 3, "AS") and is_word(
                i + 4, "OF"
            ):
                if is_word(i + 2, "SYSTEM_TIME") and is_str(i + 5):
                    raw_ops.append(_op(
                        4, toks, i, i + 5, kind="at", name=t,
                        ts=str_val(i + 5),
                    ))
                    i += 6
                    continue
                ver = word_ver(i + 5)
                if is_word(i + 2, "VERSION") and ver is not None:
                    raw_ops.append(_op(
                        2, toks, i, i + 5, kind="version", name=t, ver=ver
                    ))
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


def _condition_end(toks, i: int) -> int:
    """Index of the token ending the JOIN condition that starts at i:
    the first ',' / ';' / clause keyword at paren depth 0, or the ')'
    closing an enclosing subquery (len(toks) when none)."""
    depth = 0
    for j in range(i, len(toks)):
        kind, t = toks[j][0], toks[j][1]
        if kind == "punct":
            if t == "(":
                depth += 1
            elif t == ")":
                if depth == 0:
                    return j
                depth -= 1
            elif depth == 0 and t in (",", ";"):
                return j
        elif (
            kind == "word"
            and depth == 0
            and t.upper() in _CONDITION_END_KEYWORDS
        ):
            return j
    return len(toks)


def bare_factor_candidates(text: str) -> list[str]:
    """Bare table factors in positional order, with CTE-defined names
    and the factor-keyword skip list already filtered. A factor list
    starts after FROM or JOIN and continues over commas (each factor
    may carry a bare or AS alias); a comma at paren depth 0 right after
    a JOIN's ``ON …``/``USING (…)`` condition continues it too
    (``FROM a JOIN b ON a.k = b.k, c``). The rewrite runs this on the
    REWRITTEN statement, where every versioned clause has already
    collapsed to its versioned name. Duplicates are preserved; the
    caller applies its ``seen`` dedup."""
    toks = tokenize_spans(text)
    n = len(toks)
    is_word = partial(_word_at, toks)
    is_punct = partial(_punct_at, toks)
    is_ident = partial(_ident_at, toks)

    # WITH [RECURSIVE] name AS ( … ) [, name2 AS ( … )]: query-local
    # names that shadow an azof table of the same name, so they are
    # never registered (that would scan the table's files for nothing).
    # The ',' form also catches named windows — harmless, those never
    # sit in factor position
    cte: set[str] = set()
    for i in range(n):
        head = None
        if is_word(i, "WITH"):
            head = i + 2 if is_word(i + 1, "RECURSIVE") else i + 1
        elif is_punct(i, ","):
            head = i + 1
        if (
            head is not None
            and is_ident(head)
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

    # commas ending a JOIN condition: each opens a factor list again
    list_commas: set[int] = set()
    i = 0
    while i < n:
        joined = is_word(i, "JOIN")
        if not (joined or is_word(i, "FROM") or i in list_commas):
            i += 1
            continue
        if not is_ident(i + 1):
            i += 1
            continue
        j = register(i + 1)
        while True:
            if (
                is_word(j, "AS")
                and is_word(j + 1)
                and is_punct(j + 2, ",")
                and is_ident(j + 3)
            ):
                j = register(j + 3)
            elif is_word(j) and is_punct(j + 1, ",") and is_ident(j + 2):
                j = register(j + 2)
            elif is_punct(j, ",") and is_ident(j + 1):
                j = register(j + 1)
            else:
                break
        if joined:
            k = j  # past an optional alias to ON/USING
            if is_word(k, "AS"):
                k += 2
            elif is_word(k) and not (is_word(k, "ON") or is_word(k, "USING")):
                k += 1
            if is_word(k, "ON") or is_word(k, "USING"):
                end = _condition_end(toks, k + 1)
                if is_punct(end, ","):
                    list_commas.add(end)
        # the condition itself is walked on, so subqueries inside it
        # register in position order before the factors after the comma
        i = j
    return out
