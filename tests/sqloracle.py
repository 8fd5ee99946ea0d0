"""Differential oracle for the SQL grammar in bazof_spark/sqlcheck.py.

``Lakehouse.sql`` parses each statement once, with the token walk in
``sqlcheck``. This module keeps a second, independently written
derivation of the same three extraction surfaces, built from regexes
over string/comment spans instead of tokens:

- ``regex_rewrite_and_extract`` — the time-travel rewrite and the
  registered table list (``sql.rewrite_and_extract_tables``);
- ``regex_merge_tail_ast`` — the MERGE clause list
  (``sqlcheck.merge_tail_ast``);
- ``regex_update_body`` — the UPDATE SET body split
  (``sqlcheck.update_body_ast``).

The ``check_*`` comparators raise ``OracleMismatch`` when the library's
result and the oracle's differ; the generative suites in
test_sqlcheck.py and test_sql_rewrite_fuzz.py run them on every
statement they generate. The oracle cannot read a few shapes the
library accepts (a comment between the tokens of a clause, CASE WHEN
`matched` inside a MERGE predicate); the generators do not produce
them.
"""

from __future__ import annotations

import re

from bazof_spark.asof import AsOf, Current, epoch_millis, parse_rfc3339
from bazof_spark.errors import SqlRewriteError
from bazof_spark.sql import VersionedTable
from bazof_spark.sqlcheck import iter_token_spans

# identifier, optionally schema-qualified: name or name.name
_IDENT = r"[A-Za-z_][A-Za-z0-9_$]*(?:\.[A-Za-z_][A-Za-z0-9_$]*)*"

# tbl AT('ts') | tbl AT(TIMESTAMP => 'ts')
_AT_RE = re.compile(
    rf"(?P<name>{_IDENT})\s+AT\s*\(\s*(?:TIMESTAMP\s*=>\s*)?'(?P<ts>[^']*)'\s*\)",
    re.IGNORECASE,
)

# tbl FOR SYSTEM_TIME AS OF 'ts'
_SYSTEM_TIME_RE = re.compile(
    rf"(?P<name>{_IDENT})\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+'(?P<ts>[^']*)'",
    re.IGNORECASE,
)

# Snapshot-version travel (ours — Delta-style extension; the reference
# only travels by event time):
#   tbl FOR VERSION AS OF 2 | tbl AT(VERSION => 2) | quoted '2' accepted
_FOR_VERSION_RE = re.compile(
    rf"(?P<name>{_IDENT})\s+FOR\s+VERSION\s+AS\s+OF\s+'?(?P<ver>\w+)'?",
    re.IGNORECASE,
)
_AT_VERSION_RE = re.compile(
    rf"(?P<name>{_IDENT})\s+AT\s*\(\s*VERSION\s*=>\s*'?(?P<ver>\w+)'?\s*\)",
    re.IGNORECASE,
)

# Change-feed table function (ours — Delta-CDF-style surface over
# Lakehouse.scan_changes):
#   CHANGES('tbl', '<since>')  |  CHANGES('tbl', '<since>', '<until>')
_CHANGES_RE = re.compile(
    rf"\bCHANGES\s*\(\s*'(?P<name>{_IDENT})'\s*,\s*'(?P<since>[^']*)'"
    r"(?:\s*,\s*'(?P<until>[^']*)')?\s*\)",
    re.IGNORECASE,
)

# bare table factor after FROM/JOIN (for Current registration)
_TABLE_FACTOR_RE = re.compile(
    rf"\b(?:FROM|JOIN)\s+(?P<name>{_IDENT})", re.IGNORECASE
)

# CTE definitions: WITH [RECURSIVE] name AS ( ... ) [, name2 AS ( ... )].
# Names defined here are query-local relations — a CTE named like an
# azof table must NOT be registered/scanned (the CTE shadows it inside
# the query; registering would still scan the azof table's files as a
# side effect). The `,` alternative also matches named windows
# (`WINDOW w AS (...)`) — harmless over-collection: those names never
# appear in FROM/JOIN position.
_CTE_DEF_RE = re.compile(
    rf"(?:\bWITH(?:\s+RECURSIVE)?|,)\s*(?P<name>{_IDENT})\s+AS\s*\(",
    re.IGNORECASE,
)

# comma-separated continuation of a FROM list (`FROM a, b, c` — the
# reference registers every table factor, so must we); an optional
# bare/AS alias may sit between the previous factor and the comma
_COMMA_FACTOR_RE = re.compile(
    rf"\s*(?:(?:AS\s+)?{_IDENT})?\s*,\s*(?P<name>{_IDENT})", re.IGNORECASE
)

# the factor-keyword skip list, kept here as part of the reference
_KEYWORDS = frozenset(
    {"select", "lateral", "unnest", "values", "table", "generate_series"}
)

# MERGE clause list: clause heads, the ON key anchor, the action tail
_MERGE_WHEN_RE = re.compile(
    r"\bWHEN\s+(?:NOT\s+)?MATCHED\b", re.IGNORECASE
)
_MERGE_ON_KEY_TAIL_RE = re.compile(
    r"\s+ON\s+key\s*$", re.IGNORECASE
)
_MERGE_ACTION_TAIL_RE = re.compile(
    r"\s+THEN\s+(?P<act>DELETE|UPDATE\s+SET\s+\*|INSERT\s+\*"
    r"|UPDATE\s+SET\s+.+)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_CLAUSE_HEAD_RE = re.compile(
    r"WHEN\s+(?P<neg>NOT\s+)?MATCHED(?P<bysrc>\s+BY\s+SOURCE)?"
    r"(?:\s+AND\s+(?P<pred>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_ASSIGN_RE = re.compile(
    rf"^(?P<col>{_IDENT})\s*=\s*(?P<expr>.+)$", re.DOTALL
)


def _string_spans(sql: str) -> list[tuple[int, int]]:
    """Spans of single-quoted literals ('' escape honored), `--` line
    comments and `/* */` block comments, so the regexes never fire on
    pattern-shaped TEXT inside any of them. One linear scan, because
    strings and comments nest inside each other ('--' inside a string
    is not a comment; a quote inside a comment opens no string)."""
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


def regex_rewrite_and_extract(sql: str) -> tuple[str, list[VersionedTable]]:
    """The regex substitution pipeline: one pass per clause family
    (CHANGES, AT(VERSION =>), FOR VERSION AS OF, AT('ts'), FOR
    SYSTEM_TIME AS OF), then the FROM/JOIN factor walk for Current
    tables. Same result shape as ``rewrite_and_extract_tables``."""
    tables: list[VersionedTable] = []
    seen: set[str] = set()

    def _sub(match: re.Match, spans) -> str:
        if _inside(match.start("name"), spans):
            return match.group(0)
        name = match.group("name")
        ts_raw = match.group("ts")
        try:
            ts = parse_rfc3339(ts_raw)
        except ValueError as exc:
            raise SqlRewriteError(
                f"invalid time-travel timestamp {ts_raw!r} for table {name!r}: {exc}"
            ) from exc
        versioned = f"{name}__{epoch_millis(ts)}"
        if versioned not in seen:
            seen.add(versioned)
            tables.append(VersionedTable(name, versioned, AsOf.event_time(ts)))
        return versioned

    def _sub_version(match: re.Match, spans) -> str:
        if _inside(match.start("name"), spans):
            return match.group(0)
        name = match.group("name")
        ver = match.group("ver")
        versioned = f"{name}__v{ver}"
        if versioned not in seen:
            seen.add(versioned)
            tables.append(VersionedTable(name, versioned, Current, version=ver))
        return versioned

    def _sub_changes(match: re.Match, spans) -> str:
        # the table name sits INSIDE quotes by design; guard on the
        # CHANGES keyword itself being outside any other string literal
        if _inside(match.start(), spans):
            return match.group(0)
        name = match.group("name")
        since_raw = match.group("since")
        until_raw = match.group("until")
        try:
            m1 = epoch_millis(parse_rfc3339(since_raw))
            m2 = (
                "current"
                if until_raw is None
                else str(epoch_millis(parse_rfc3339(until_raw)))
            )
        except ValueError as exc:
            raise SqlRewriteError(
                f"invalid CHANGES timestamp for table {name!r}: {exc}"
            ) from exc
        versioned = f"{name}__changes_{m1}_{m2}"
        if versioned not in seen:
            seen.add(versioned)
            tables.append(
                VersionedTable(
                    name, versioned, Current, changes=(since_raw, until_raw)
                )
            )
        return versioned

    spans = _string_spans(sql)
    rewritten = _CHANGES_RE.sub(lambda m: _sub_changes(m, spans), sql)
    spans = _string_spans(rewritten)
    rewritten = _AT_VERSION_RE.sub(lambda m: _sub_version(m, spans), rewritten)
    spans = _string_spans(rewritten)
    rewritten = _FOR_VERSION_RE.sub(lambda m: _sub_version(m, spans), rewritten)
    spans = _string_spans(rewritten)
    rewritten = _AT_RE.sub(lambda m: _sub(m, spans), rewritten)
    spans = _string_spans(rewritten)
    rewritten = _SYSTEM_TIME_RE.sub(lambda m: _sub(m, spans), rewritten)

    spans = _string_spans(rewritten)
    cte_names = {
        m.group("name")
        for m in _CTE_DEF_RE.finditer(rewritten)
        if not _inside(m.start("name"), spans)
    }

    def _register_bare(name: str, pos: int) -> None:
        if _inside(pos, spans):
            return
        if name.lower() in _KEYWORDS or name in seen or name in cte_names:
            return
        seen.add(name)
        tables.append(VersionedTable(name, name, Current))

    for match in _TABLE_FACTOR_RE.finditer(rewritten):
        _register_bare(match.group("name"), match.start("name"))
        # walk `, next_factor` continuations of the same FROM list
        pos = match.end()
        while True:
            cont = _COMMA_FACTOR_RE.match(rewritten, pos)
            if cont is None:
                break
            _register_bare(cont.group("name"), cont.start("name"))
            pos = cont.end()
    return rewritten, tables


def regex_merge_tail_ast(select: str):
    """The span-aware regex derivation of the MERGE clause list:
    ``merge_tail_ast``'s dict shape, or None when there is no ``ON key
    WHEN`` clause list. Raises SqlRewriteError on clause-shaped but
    broken text."""
    spans = _string_spans(select)
    whens = [
        m for m in _MERGE_WHEN_RE.finditer(select)
        if not _inside(m.start(), spans)
    ]
    if not whens:
        return None
    prefix = select[: whens[0].start()]
    on = _MERGE_ON_KEY_TAIL_RE.search(prefix)
    if on is None:
        return None
    src = prefix[: on.start()]
    tail = select[whens[0].start():].rstrip().rstrip(";").rstrip()
    segments = []
    for i, m in enumerate(whens):
        lo = m.start() - whens[0].start()
        hi = (
            whens[i + 1].start() - whens[0].start()
            if i + 1 < len(whens)
            else len(tail)
        )
        segments.append(tail[lo:hi].strip())
    clauses = []
    for seg in segments:
        # anchor the action on a THEN that sits OUTSIDE string
        # literals — a predicate like note = 'x THEN UPDATE SET v = 1'
        # must not donate its THEN to the action tail (it would garble
        # the assignment list into a confusing downstream error)
        seg_spans = _string_spans(seg)
        act_m, pos = None, 0
        while True:
            cand = _MERGE_ACTION_TAIL_RE.search(seg, pos)
            if cand is None:
                break
            if _inside(cand.start(), seg_spans) or _inside(
                cand.start("act"), seg_spans
            ):
                pos = cand.start() + 1
                continue
            act_m = cand
            break
        if act_m is None:
            raise SqlRewriteError(
                "MERGE clause must end in THEN DELETE, THEN UPDATE SET "
                f"*, or THEN INSERT * — got: {seg!r}"
            )
        head_m = _MERGE_CLAUSE_HEAD_RE.fullmatch(seg[: act_m.start()].strip())
        if head_m is None:
            raise SqlRewriteError(f"malformed MERGE clause: {seg!r}")
        act = re.sub(r"\s+", " ", act_m.group("act").upper())
        if act in ("DELETE", "INSERT *", "UPDATE SET *"):
            action = act
        elif act.startswith("UPDATE SET"):
            action = ("update_set", _parse_assignments(act_m.group("act")))
        else:  # unreachable given the action-tail alternation
            raise SqlRewriteError(f"unknown MERGE action: {seg!r}")
        clauses.append(
            {
                "neg": bool(head_m.group("neg")),
                "by_src": bool(head_m.group("bysrc")),
                "pred": (head_m.group("pred") or "").strip(),
                "action": action,
            }
        )
    return {"src": src, "clauses": clauses}


def _parse_assignments(act_text: str) -> tuple:
    """``UPDATE SET a = e1, b = e2`` → ((col, expr), …), splitting only
    at top-level commas (CASE/functions/strings stay whole)."""
    body = re.sub(r"^UPDATE\s+SET\s+", "", act_text, flags=re.IGNORECASE)
    cuts = [m.start() for m in _split_top_level(body, ",")]
    pieces, lo = [], 0
    for cpos in cuts:
        pieces.append(body[lo:cpos])
        lo = cpos + 1
    pieces.append(body[lo:])
    sets = []
    for piece in pieces:
        am = _ASSIGN_RE.match(piece.strip())
        if am is None:
            raise SqlRewriteError(
                "MERGE UPDATE SET expects 'column = "
                f"expression', got: {piece.strip()!r}"
            )
        sets.append((am.group("col"), am.group("expr").strip()))
    return tuple(sets)

def _split_top_level(text: str, word_or_comma: str):
    """Positions of ``word_or_comma`` (a keyword like WHERE, or ',')
    outside string/comment spans and at paren depth 0."""
    spans = _string_spans(text)
    if word_or_comma == ",":
        pat = re.compile(",")
    else:
        pat = re.compile(rf"\b{word_or_comma}\b", re.IGNORECASE)
    # prefix paren-depth in ONE forward pass (counting only outside
    # strings), then O(1) lookup per candidate
    depth_at = [0] * (len(text) + 1)
    depth = 0
    for i, ch in enumerate(text):
        depth_at[i] = depth
        if not _inside(i, spans):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
    depth_at[len(text)] = depth
    out = []
    for m in pat.finditer(text):
        if _inside(m.start(), spans):
            continue
        if depth_at[m.start()] == 0:
            out.append(m)
    return out


def regex_update_body(body: str) -> tuple[tuple[tuple[str, str], ...], str]:
    """The regex/span derivation of the UPDATE body split:
    ((col, expr), …), WHERE predicate ('' = all rows)."""
    wheres = _split_top_level(body, "WHERE")
    if wheres:
        first = wheres[0]
        pred = body[first.end():].strip()
        body = body[: first.start()]
    else:
        pred = ""
    cuts = [m.start() for m in _split_top_level(body, ",")]
    pieces, lo = [], 0
    for c in cuts:
        pieces.append(body[lo:c])
        lo = c + 1
    pieces.append(body[lo:])
    sets = []
    for piece in pieces:
        m = _ASSIGN_RE.match(piece.strip())
        if m is None:
            raise SqlRewriteError(
                f"UPDATE SET expects 'column = expression', got: "
                f"{piece.strip()!r}"
            )
        sets.append((m.group("col"), m.group("expr").strip()))
    return tuple(sets), pred


# ---------------------------------------------------------------------------
# Comparators: library result vs oracle, through whitespace/comment-
# insensitive comparison shapes
# ---------------------------------------------------------------------------


class OracleMismatch(AssertionError):
    """The library's extraction and the regex oracle's disagree."""


def canon(text: str) -> str:
    """Canonical spelling for comparison: tokens joined by one space
    (whitespace and comments dropped OUTSIDE strings, verbatim inside)."""
    return " ".join(t for _, t, _, _ in iter_token_spans(text))


def canon_merge_ast(ast: dict) -> dict:
    """Comparison shape of a ``merge_tail_ast``-style dict."""

    def one(c):
        act = c["action"]
        if isinstance(act, tuple):
            act = ("update_set", tuple((col, canon(e)) for col, e in act[1]))
        return {
            "neg": c["neg"],
            "by_src": c["by_src"],
            "pred": canon(c["pred"]),
            "action": act,
        }

    return {"src": canon(ast["src"]), "clauses": [one(c) for c in ast["clauses"]]}


def canon_update_body(sets: tuple, pred: str) -> tuple:
    """Comparison shape of an UPDATE body split."""
    return tuple((c, canon(e)) for c, e in sets), canon(pred)


def check_time_travel(sql: str, got: tuple) -> None:
    """``got`` is ``rewrite_and_extract_tables(sql)``; the rewritten
    text and the ordered table list must both equal the oracle's."""
    try:
        want = regex_rewrite_and_extract(sql)
    except SqlRewriteError as exc:
        raise OracleMismatch(
            f"the regex oracle rejected what the library accepted: {exc}"
        ) from exc

    def key(result):
        rewritten, tables = result
        return rewritten, [
            (t.name, t.versioned_name, t.version, t.changes) for t in tables
        ]

    if key(got) != key(want):
        raise OracleMismatch(
            f"time-travel extraction of {sql!r}: library {key(got)!r} vs "
            f"oracle {key(want)!r}"
        )


def check_merge_tail(select: str, ast: dict | None) -> None:
    """``ast`` is ``merge_tail_ast(select)``; the oracle must find the
    same clause list (or, for None, none at all)."""
    try:
        want = regex_merge_tail_ast(select)
    except SqlRewriteError as exc:
        raise OracleMismatch(
            f"the regex oracle rejected what the library accepted: {exc}"
        ) from exc
    got_c = None if ast is None else canon_merge_ast(ast)
    want_c = None if want is None else canon_merge_ast(want)
    if got_c != want_c:
        raise OracleMismatch(
            f"MERGE clause list of {select!r}: library {got_c!r} vs "
            f"oracle {want_c!r}"
        )


def check_update_body(body: str, got: tuple) -> None:
    """``got`` is ``update_body_ast(body)`` as (sets, pred)."""
    try:
        want = regex_update_body(body)
    except SqlRewriteError as exc:
        raise OracleMismatch(
            f"the regex oracle rejected what the library accepted: {exc}"
        ) from exc
    if canon_update_body(*got) != canon_update_body(*want):
        raise OracleMismatch(
            f"UPDATE body {body!r}: library {got!r} vs oracle {want!r}"
        )
