"""Time-travel SQL rewrite and the statement surface of ``Lakehouse.sql``.

Reference: crates/azof-datafusion/src/parse.rs:17-168. The reference walks
the sqlparser AST with a ``VisitorMut``; Spark's parser exposes no such
hook, so this is a pre-pass over the token grammar in
``bazof_spark.sqlcheck`` with the same observable contract (parse.rs
tests 176-284):

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

Every statement is tokenized and parsed by ``sqlcheck`` alone; the
regexes below only recognize the statement-leading head (``MERGE INTO
t USING``, ``UPDATE t SET``, ``OPTIMIZE t`` …) after trivia is skipped.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from bazof_spark.asof import AsOf, Current, parse_rfc3339
from bazof_spark.errors import SqlRewriteError
from bazof_spark.sqlcheck import (
    bare_factor_candidates,
    iter_token_spans,
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


def rewrite_and_extract_tables(sql: str) -> tuple[str, list[VersionedTable]]:
    """Rewrite time-travel clauses; return (sql, versioned tables).

    Tables referenced with no version clause are also returned (with
    ``AsOf.Current`` and ``versioned_name == name``) so the caller can
    register them, mirroring the reference registering every extracted
    table factor (crates/azof-datafusion/src/context.rs:29-43).

    The positional token walk (sqlcheck.time_travel_ops +
    bare_factor_candidates — the closest this text-level pre-pass gets
    to the reference's AST visitor, parse.rs:17-118) produces the
    replacements and the table list, in op order then factor order.
    """
    try:
        ops = time_travel_ops(sql)
    except ValueError as exc:
        raise SqlRewriteError(str(exc)) from exc
    tables: list[VersionedTable] = []
    seen: set[str] = set()
    repl: list[tuple[int, int, str]] = []
    for op in ops:
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
    # bare factors register as Current — walked on the REWRITTEN text,
    # where every versioned clause already collapsed to its versioned
    # name (which `seen` filters)
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
# MERGE INTO t USING <source query> [ON key WHEN … clause list]. The
# format's append-delta IS merge-by-key (a newer version shadows the
# older one per key at read time, crates/azof/src/lakehouse.rs:40-79),
# so every clause list merges ON key; the clause shapes route to:
#   merge         WHEN MATCHED THEN UPDATE SET *
#                 WHEN NOT MATCHED THEN INSERT *  (full-row upsert; also
#                 a MERGE with no clause list)
#   merge_delete  WHEN MATCHED [AND <pred>] THEN DELETE — tombstone every
#                 target key the source matches (optionally narrowed by
#                 <pred> over the target's current row); compiles to
#                 delete_keys, time-travel-consistent like DELETE FROM
#   merge_insert  WHEN NOT MATCHED THEN INSERT * — append only the source
#                 rows whose keys are absent from the target's Current
#                 state, version-pinned so a key committed concurrently
#                 can't be silently overwritten
#   merge_multi   any other clause list, e.g.
#                   WHEN MATCHED AND <p1> THEN DELETE
#                   WHEN MATCHED [AND <p2>] THEN UPDATE SET *
#                   WHEN NOT MATCHED THEN INSERT *
#                 Clause order is significant (first matching WHEN
#                 MATCHED clause wins per key, Delta/ANSI semantics);
#                 predicates evaluate over the TARGET's current row.
#                 Compiles to ONE atomic commit (writer.merge_apply:
#                 data delta + tombstone delta in the same snapshot).
_MERGE_RE = re.compile(
    rf"^MERGE\s+INTO\s+(?P<name>{_IDENT})\s+USING\s+(?P<select>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_merge_clauses(table: str, select: str) -> DmlStatement:
    """The MERGE statement for ``MERGE INTO <table> USING <select>``:
    sqlcheck.merge_tail_ast splits ``<src> ON key WHEN ... [WHEN ...]*``
    (paren/CASE depth tracking, the property the reference gets from a
    real AST, crates/azof-datafusion/src/parse.rs:17-118), then
    _merge_ast_to_result validates the clause list and the clause
    shapes pick the kind (see the table above _MERGE_RE)."""
    try:
        ast = merge_tail_ast(select)
    except ValueError as exc:
        raise SqlRewriteError(f"malformed MERGE clause list: {exc}") from exc
    if ast is None:
        return DmlStatement(
            kind="merge", table=table, replace=False, select=select
        )
    src, clauses, insert_unmatched, by_src = _merge_ast_to_result(ast)
    single = len(ast["clauses"]) == 1
    if single and clauses and clauses[0][0] == "delete":
        return DmlStatement(
            kind="merge_delete",
            table=table,
            replace=False,
            select=src,
            pred=clauses[0][1],
        )
    if single and insert_unmatched:
        return DmlStatement(
            kind="merge_insert", table=table, replace=False, select=src
        )
    if (
        clauses == (("update", ""),)
        and insert_unmatched
        and not by_src
        and not ast["clauses"][0]["neg"]
    ):
        return DmlStatement(
            kind="merge", table=table, replace=False, select=src
        )
    return DmlStatement(
        kind="merge_multi",
        table=table,
        replace=False,
        select=src,
        clauses=clauses,
        insert_unmatched=insert_unmatched,
        by_source=by_src,
        by_source_delete=next(
            (cl[1] for cl in by_src if cl[0] == "delete"), None
        ),
    )


def _merge_ast_to_result(ast: dict):
    """Semantic validation over merge_tail_ast's clause list — the
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
                # precedence no-op, see lakehouse merge_multi)
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


# UPDATE t SET col = expr[, ...] [WHERE <pred>] — sugar over the
# format's merge-by-key: matching rows are re-read with the SET
# expressions applied (they may reference the old column values) and
# upserted at 'now', so the update is time-travel-consistent exactly
# like DELETE — earlier as-ofs still see the old values.
_UPDATE_RE = re.compile(
    rf"^UPDATE\s+(?P<name>{_IDENT})\s+SET\s+(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_update_body(body: str) -> tuple[tuple[tuple[str, str], ...], str]:
    """Split an UPDATE body into ((col, expr), ...) assignments and the
    WHERE predicate ('' = all rows) with sqlcheck.update_body_ast.
    WHERE/commas inside strings or parenthesized subexpressions never
    split."""
    try:
        return update_body_ast(body)
    except ValueError as exc:
        raise SqlRewriteError(str(exc)) from exc


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
    #: "ctas"|"insert"|"merge"|"merge_delete"|"merge_insert"|
    #: "merge_multi"|"delete"|"update"
    kind: str
    table: str
    replace: bool
    select: str  # for "delete"/"update": the WHERE predicate ("" = all)
    #: for "update": ((column, sql_expression), ...) SET assignments
    sets: tuple = ()
    #: for "merge_delete": the WHEN MATCHED AND predicate ("" = all
    #: matched keys), evaluated over the target's current rows
    pred: str = ""
    #: for "merge_multi": ("delete"|"update", pred) WHEN MATCHED
    #: clauses in statement order (first match wins per key)
    clauses: tuple = ()
    #: for "merge_multi": a WHEN NOT MATCHED THEN INSERT * clause
    insert_unmatched: bool = False
    #: for "merge_multi": WHEN NOT MATCHED BY SOURCE clauses in
    #: statement order (first match wins per unmatched target key):
    #: ("delete", pred) or ("update_set", pred, ((col, expr), …));
    #: "" predicate = all unmatched target keys, expressions over the
    #: target's current row (no source row exists, so no `src` struct)
    by_source: tuple = ()
    #: convenience view of by_source: the DELETE clause's predicate
    #: (None = no BY SOURCE DELETE clause) — kept because the
    #: single-kind form predates BY SOURCE UPDATE SET
    by_source_delete: str | None = None


def _lstrip_trivia(sql: str) -> str:
    """Drop leading whitespace and comments so DML detection sees the
    first real token (a leading `-- comment` must not hide an INSERT,
    and comment TEXT mentioning 'create table' must not fake one)."""
    first = next(iter_token_spans(sql), None)
    return "" if first is None else sql[first[2]:]


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
        sets, pred = _parse_update_body(m.group("body"))
        return DmlStatement(
            kind="update",
            table=m.group("name"),
            replace=False,
            select=pred,
            sets=sets,
        )
    m = _MERGE_RE.match(head)
    if m:
        return _parse_merge_clauses(m.group("name"), m.group("select"))
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
