"""The token-level SQL grammar (bazof_spark/sqlcheck.py) — the one
parser behind Lakehouse.sql. These tests pin its grammar directly and,
on generated statements, compare it against the independently written
regex derivation in tests/sqloracle.py (the differential oracle)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.asof import epoch_millis  # noqa: E402
from bazof_spark.sql import (  # noqa: E402
    VersionedTable,
    parse_dml,
    rewrite_and_extract_tables,
)
from bazof_spark.sqlcheck import (  # noqa: E402
    bare_factor_candidates,
    merge_tail_ast,
    time_travel_ops,
    tokenize_spans,
    update_body_ast,
)
from sqloracle import (  # noqa: E402
    OracleMismatch,
    canon,
    canon_merge_ast,
    canon_update_body,
    check_merge_tail,
    check_time_travel,
    check_update_body,
)


def _kinds_and_texts(text):
    return [(k, t) for k, t, _, _ in tokenize_spans(text)]


def test_tokenizer_strings_comments_operators():
    toks = _kinds_and_texts(
        "a >= 'x -- not a comment' -- real\n/*c*/ b.c <> 1.5"
    )
    assert toks == [
        ("word", "a"),
        ("punct", ">="),
        ("str", "'x -- not a comment'"),
        ("word", "b.c"),
        ("punct", "<>"),
        ("word", "1.5"),
    ]
    # '' escape stays inside one string token
    assert _kinds_and_texts("'a''b'") == [("str", "'a''b'")]
    assert canon("x   =\n1") == "x = 1"


def test_parse_merge_tail_tracks_case_and_paren_depth():
    r = canon_merge_ast(merge_tail_ast(
        "SELECT * FROM s ON key "
        "WHEN MATCHED AND CASE WHEN x THEN true ELSE false END "
        "THEN UPDATE SET v = CASE WHEN a THEN 1 ELSE 2 END, "
        "w = f(a, b) "
        "WHEN NOT MATCHED THEN INSERT *"
    ))
    assert r["src"] == "SELECT * FROM s"
    c0, c1 = r["clauses"]
    assert c0["pred"] == "CASE WHEN x THEN true ELSE false END"
    assert c0["action"] == (
        "update_set",
        (("v", "CASE WHEN a THEN 1 ELSE 2 END"), ("w", "f ( a , b )")),
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
    # no clause head at all → the whole text is the source query
    assert merge_tail_ast("SELECT 'WHEN MATCHED THEN DELETE' FROM s") is None
    # a clause list not anchored on ON key is an error, not a source
    with pytest.raises(ValueError, match="must follow 'ON key'"):
        merge_tail_ast("SELECT * FROM s WHEN MATCHED THEN DELETE")


def test_crosscheck_trips_on_wrong_extraction():
    """The MERGE and time-travel oracle comparators pass the library's
    own extraction and fail on every planted divergence: a wrong
    predicate, action, clause set or source split (MERGE), a wrong
    rewrite or table list (time travel)."""
    sel = (
        "SELECT * FROM s ON key WHEN MATCHED AND a THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    ast = merge_tail_ast(sel)
    check_merge_tail(sel, ast)

    def planted(**changes):
        c0 = dict(ast["clauses"][0], **changes)
        return {"src": ast["src"], "clauses": [c0] + ast["clauses"][1:]}

    with pytest.raises(OracleMismatch, match="MERGE clause list"):
        check_merge_tail(sel, planted(pred="b"))
    with pytest.raises(OracleMismatch):
        check_merge_tail(sel, planted(action="UPDATE SET *"))
    with pytest.raises(OracleMismatch):
        check_merge_tail(sel, {"src": ast["src"], "clauses": ast["clauses"][:1]})
    with pytest.raises(OracleMismatch):
        check_merge_tail(sel, dict(ast, src="SELECT * FROM other"))
    with pytest.raises(OracleMismatch):
        check_merge_tail(sel, None)

    sql = "SELECT * FROM t AT ('2024-01-01T00:00:00Z') JOIN u ON 1=1"
    rewritten, tables = rewrite_and_extract_tables(sql)
    check_time_travel(sql, (rewritten, tables))
    with pytest.raises(OracleMismatch, match="time-travel extraction"):
        check_time_travel(sql, (rewritten, tables[:1]))
    with pytest.raises(OracleMismatch):
        check_time_travel(sql, (rewritten, tables[::-1]))
    with pytest.raises(OracleMismatch):
        check_time_travel(sql, (sql, tables))


def test_case_when_inside_merge_predicate_is_not_a_clause_head():
    """CASE WHEN … THEN inside a MERGE predicate stays inside the
    predicate, even when a column is literally named `matched`. The
    regex oracle splits a clause at that `WHEN matched`, which is why
    the comparison lives in the tests and not on every statement."""
    d = parse_dml(
        "MERGE INTO t USING SELECT * FROM s ON key "
        "WHEN MATCHED AND v = CASE WHEN x THEN 1 ELSE 2 END THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert d.clauses == (("delete", "v = CASE WHEN x THEN 1 ELSE 2 END"),)
    select = (
        "SELECT * FROM s ON key "
        "WHEN MATCHED AND CASE WHEN matched THEN 1 ELSE 0 END = 1 "
        "THEN DELETE WHEN NOT MATCHED THEN INSERT *"
    )
    d = parse_dml(f"MERGE INTO t USING {select}")
    assert d.kind == "merge_multi" and d.select == "SELECT * FROM s"
    assert d.clauses == (("delete", "CASE WHEN matched THEN 1 ELSE 0 END = 1"),)
    assert d.insert_unmatched
    with pytest.raises(OracleMismatch):
        check_merge_tail(select, merge_tail_ast(select))


# ---------------------------------------------------------------------------
# UPDATE body
# ---------------------------------------------------------------------------


def test_parse_update_body_grammar():
    sets, pred = canon_update_body(*update_body_ast(
        "a = coalesce(b, ',WHERE'), c = CASE WHEN x IN (1,2) THEN 'w, z' "
        "ELSE f(y, 2) END WHERE note = 'WHERE a = 1, b = 2' AND k > 3"
    ))
    assert sets == (
        ("a", "coalesce ( b , ',WHERE' )"),
        ("c", "CASE WHEN x IN ( 1 , 2 ) THEN 'w, z' ELSE f ( y , 2 ) END"),
    )
    assert pred == "note = 'WHERE a = 1, b = 2' AND k > 3"
    # no WHERE
    sets, pred = update_body_ast("v = v + 1")
    assert sets == (("v", "v + 1"),) and pred == ""
    with pytest.raises(ValueError, match="column = expression"):
        update_body_ast("not-an-assignment")


def test_crosscheck_update_trips_on_wrong_extraction():
    """The UPDATE-body oracle comparator passes the library's own
    extraction and fails on a mis-split or a wrong predicate."""
    body = "a = 1, b = 2 WHERE k = 'x'"
    check_update_body(body, update_body_ast(body))
    # a mis-split (string-blind splitting would glue b=2 into a's expr)
    with pytest.raises(OracleMismatch, match="UPDATE body"):
        check_update_body(body, ((("a", "1 , b = 2"),), "k = 'x'"))
    with pytest.raises(OracleMismatch):
        check_update_body(body, ((("a", "1"), ("b", "2")), "k = 'y'"))


def test_update_strings_with_where_and_commas_extract_cleanly():
    """An UPDATE whose strings contain WHERE/comma/assignment text
    extracts cleanly, and the regex oracle agrees."""
    body = (
        "note = 'WHERE v = 1, w = 2', v = CASE WHEN "
        "v IN (1,2) THEN v + 1 ELSE 0 END WHERE tag = ', WHERE '"
    )
    st = parse_dml(f"UPDATE t SET {body}")
    assert st is not None and st.kind == "update"
    assert st.sets == (
        ("note", "'WHERE v = 1, w = 2'"),
        ("v", "CASE WHEN v IN (1,2) THEN v + 1 ELSE 0 END"),
    )
    assert st.select == "tag = ', WHERE '"
    check_update_body(body, update_body_ast(body))


def test_update_fuzz_both_parsers_agree():
    """Generative: 200 random assignment lists with string/paren/CASE
    booby traps round-trip through parse_dml, and the regex oracle
    splits every body the same way."""
    import random

    exprs = [
        "1", "v + 1", "coalesce(a, b, ',')", "'WHERE x = 1, y = 2'",
        "CASE WHEN a IN (1,2) THEN ',' ELSE 'THEN' END",
        "f(g(h(x, 'WHERE')), 2)", "a || ', b = 9'",
        # scientific literals the tokenizer reads as three tokens
        # (span slicing must return them intact) and block comments
        # inside expressions (slices keep interior trivia; the oracle
        # comparison ignores it on both sides)
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
        body += f" WHERE {pred}" if pred else ""
        st = parse_dml(f"UPDATE t SET {body}")
        assert st is not None and st.kind == "update"
        assert st.sets == tuple(sets)
        assert st.select == (pred or "")
        check_update_body(body, update_body_ast(body))


# ---------------------------------------------------------------------------
# Time-travel extraction
# ---------------------------------------------------------------------------


def _keys(tables: list[VersionedTable]) -> set:
    """Canonical reference keys of a registered table list:
    ("at", name, epoch_millis) | ("version", name, ver) |
    ("changes", name, m1, m2) | ("current", name)."""
    keys = set()
    for vt in tables:
        if vt.changes is not None:
            m1, m2 = vt.versioned_name.rsplit("_", 2)[-2:]
            keys.add(("changes", vt.name, int(m1), m2))
        elif vt.version is not None:
            keys.add(("version", vt.name, vt.version))
        elif not vt.as_of.is_current:
            keys.add(("at", vt.name, epoch_millis(vt.as_of.event_time_at)))
        else:
            keys.add(("current", vt.name))
    return keys


def test_parse_time_travel_tables_all_forms():
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
    keys = _keys(tables)
    at1 = 1704067200000
    at2 = 1706745600000
    assert keys == {
        ("at", "t", at1),
        ("at", "t", at2),
        ("version", "u", "3"),
        ("version", "v", "7"),
        ("changes", "w", at1, "1709251200000"),
        ("current", "x"),
        ("current", "y"),
    }
    # strings/comments never produce references
    _, tables = rewrite_and_extract_tables(
        "SELECT ' FROM fake AT (''2024-01-01T00:00:00Z'') ' AS s "
        "-- FROM ghost\n FROM real"
    )
    assert _keys(tables) == {("current", "real")}


def test_time_travel_crosscheck_is_live():
    """A versioned factor, a comma continuation and a Current JOIN of
    the same table register once each, and the regex oracle agrees."""
    sql = (
        "SELECT * FROM fin AT ('2019-01-17T00:00:00.000Z') f, extra "
        "JOIN fin ON 1=1"
    )
    rewritten, tables = rewrite_and_extract_tables(sql)
    check_time_travel(sql, (rewritten, tables))
    assert "fin__1547683200000" in rewritten
    assert {t.versioned_name for t in tables} == {
        "fin__1547683200000", "fin", "extra"
    }


def test_time_travel_fuzz_both_extractors_agree():
    """Generative: 300 random query skeletons mixing versioned forms,
    CTE shadows, aliases, comma lists, and booby-trapped strings; the
    regex oracle must reproduce every rewrite and table list."""
    import random

    rng = random.Random(4242)
    TS = ["2024-01-01T00:00:00Z", "2023-06-15T12:30:00Z"]
    factor_forms = [
        lambda t: t,
        lambda t: f"{t} AT ('{rng.choice(TS)}')",
        lambda t: f"{t} AT(TIMESTAMP => '{rng.choice(TS)}')",
        lambda t: f"{t} FOR SYSTEM_TIME AS OF '{rng.choice(TS)}'",
        lambda t: f"{t} FOR VERSION AS OF {rng.randint(1, 9)}",
        lambda t: f"{t} AT(VERSION => {rng.randint(1, 9)})",
        lambda t: f"CHANGES('{t}', '{rng.choice(TS)}')",
        lambda t: f"CHANGES('{t}', '{TS[0]}', '{TS[1]}')",
    ]
    traps = [
        "' FROM ghost AT (''2024-01-01T00:00:00Z'') '",
        "', fake2'",
        "'JOIN j2'",
    ]
    for _ in range(300):
        tables = [f"t{rng.randint(0, 4)}" for _ in range(rng.randint(1, 4))]
        parts = [factor_forms[rng.randrange(len(factor_forms))](t) for t in tables]
        head = "WITH shadow AS (SELECT 1) " if rng.random() < 0.3 else ""
        q = (
            f"{head}SELECT {rng.choice(traps)} AS s FROM "
            + parts[0]
            + ("" if rng.random() < 0.5 else " z")
        )
        for p in parts[1:]:
            q += rng.choice([f" JOIN {p} ON 1=1", f", {p}"])
        if rng.random() < 0.3:
            q += " JOIN shadow ON 1=1"
        check_time_travel(q, rewrite_and_extract_tables(q))


# ---------------------------------------------------------------------------
# Source spans: the parsers hand back ORIGINAL-spelling slices
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
    # family order (the table-list registration order): CHANGES, then
    # versions, then AT
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
    # every factor of a comma-separated FROM list registers
    assert bare_factor_candidates("SELECT 1 FROM a, b, c") == [
        "a", "b", "c"
    ]
