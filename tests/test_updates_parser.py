"""Unit tests for the .updates lexer/parser — FIXTURES.md Fixture 2,
reference behaviors SQLUpdater.java:54-70,95-105,121-159."""

from __future__ import annotations

import os

import pytest

from hive_scd_spark.updates import (
    ScdScriptError,
    applicable,
    parse_scd_time,
    parse_script,
)

MS_2014_09_01 = 1409529600000


def test_example_script_verbatim():
    # the reference's example script (tests/fixtures/updates)
    text = (
        "UPDATE doctors set number = 12 where number = 2;\n"
        "-- time=2014-09-01\n"
        "DELETE FROM doctors WHERE first_name = 'Colin';\n"
    )
    stmts = parse_script(text)
    assert len(stmts) == 2
    upd, dele = stmts
    assert upd.kind == "update"
    assert upd.table == "doctors"
    assert upd.sets == (("number", "12"),)
    assert upd.where == "number = 2"
    assert upd.effective_ms == 0
    assert dele.kind == "delete"
    assert dele.where == "first_name = 'Colin'"
    assert dele.effective_ms == MS_2014_09_01


def test_multiline_statement_joined():
    text = "UPDATE t SET\n  a = 1,\n  b = 2\nWHERE c = 3;\n"
    (stmt,) = parse_script(text)
    assert stmt.sets == (("a", "1"), ("b", "2"))
    assert stmt.where == "c = 3"


def test_trailing_comment_stripped():
    (stmt,) = parse_script("DELETE FROM t WHERE x = 1; -- cleanup\n")
    assert stmt.kind == "delete"
    assert stmt.where == "x = 1"


def test_incomplete_trailing_sql_errors():
    # SQLUpdater.java:155-157
    with pytest.raises(ScdScriptError, match="Incomplete SQL"):
        parse_script("UPDATE t SET a = 1 WHERE b = 2")


def test_unsupported_dml_errors():
    # SQLUpdater.java:62-63 — INSERT rejected
    with pytest.raises(ScdScriptError, match="Unsupported DML"):
        parse_script("INSERT INTO t VALUES (1);")


def test_mixed_table_names_error():
    # SQLUpdater.java:68
    with pytest.raises(ScdScriptError, match="Multiple table names"):
        parse_script("UPDATE a SET x = 1;\nDELETE FROM b WHERE x = 2;")


def test_time_directive_long_millis_equals_iso():
    s1 = parse_script("-- time=1409529600000\nDELETE FROM t;")
    s2 = parse_script("-- time=2014-09-01\nDELETE FROM t;")
    assert s1[0].effective_ms == s2[0].effective_ms == MS_2014_09_01


def test_time_directive_empty_means_asof_default():
    # SQLUpdater.java:129 — empty value → session as-of default
    (stmt,) = parse_script("-- time=\nDELETE FROM t;")
    assert stmt.effective_ms is None
    # applies at any non-negative as-of, excluded at negative
    assert applicable([stmt], 0) == [stmt]
    assert applicable([stmt], -1) == []


def test_time_directive_case_insensitive():
    (stmt,) = parse_script("-- TIME=2014-09-01\nDELETE FROM t;")
    assert stmt.effective_ms == MS_2014_09_01


def test_time_directive_datetime_with_offset():
    (stmt,) = parse_script("-- time=2014-09-01T02:00:00+02:00\nDELETE FROM t;")
    assert stmt.effective_ms == MS_2014_09_01


def test_delete_without_where():
    (stmt,) = parse_script("DELETE FROM t;")
    assert stmt.where is None


def test_update_multi_assignment_with_exprs():
    (stmt,) = parse_script(
        "UPDATE t SET price = price * 1.1, name = concat(name, '!') "
        "WHERE qty BETWEEN 2 AND 9;"
    )
    # CONCAT gets H2 NULL-skipping semantics regardless of case — the
    # fragment dialect is H2 (see translate_h2's documented exception)
    assert stmt.sets == (
        ("price", "price * 1.1"),
        ("name", "concat(coalesce(name, ''), coalesce('!', ''))"),
    )
    assert stmt.where == "qty BETWEEN 2 AND 9"


def test_function_call_with_commas_in_set():
    (stmt,) = parse_script("UPDATE t SET a = coalesce(b, c, 1), d = 2;")
    assert stmt.sets == (("a", "coalesce(b, c, 1)"), ("d", "2"))


def test_quoted_literal_with_semicolon_and_dashes():
    # documented deviation: reference lexer breaks on these (SURVEY §7.7)
    (stmt,) = parse_script("UPDATE t SET a = 'x;y--z' WHERE b = 'q;r';")
    assert stmt.sets == (("a", "'x;y--z'"),)
    assert stmt.where == "b = 'q;r'"


def test_where_keyword_inside_string_not_split():
    (stmt,) = parse_script("UPDATE t SET a = 'where' WHERE b = 1;")
    assert stmt.sets == (("a", "'where'"),)
    assert stmt.where == "b = 1"


def test_multiple_statements_on_one_line():
    stmts = parse_script("UPDATE t SET a=1 WHERE b=1; DELETE FROM t WHERE a=1;")
    assert [s.kind for s in stmts] == ["update", "delete"]


def test_applicable_asof_selection():
    stmts = parse_script(
        "UPDATE t SET a = 1;\n-- time=2014-09-01\nDELETE FROM t WHERE a = 1;"
    )
    assert len(applicable(stmts, -1)) == 0  # negative → raw (README.md:196-212)
    assert len(applicable(stmts, MS_2014_09_01 - 1)) == 1
    assert len(applicable(stmts, MS_2014_09_01)) == 2
    assert len(applicable(stmts, MS_2014_09_01 + 10**12)) == 2  # future preview


def test_parse_scd_time():
    assert parse_scd_time("", 42) == 42
    assert parse_scd_time("123", None) == 123
    assert parse_scd_time("-1", None) == -1
    assert parse_scd_time("2014-09-01", None) == MS_2014_09_01
    with pytest.raises(ScdScriptError):
        parse_scd_time("not-a-time", None)


def test_case_insensitive_keywords():
    (stmt,) = parse_script("update T set A = 1 where B = 2;")
    assert stmt.kind == "update"
    assert stmt.table == "T"


# -- compat="reference" lexer (SQLUpdater.java:123-159 reproduced) ----------


def test_compat_reference_comment_strip_inside_literal():
    """The reference strips `--` even inside string literals
    (SQLUpdater.java:133-135); the truncated line never terminates, so
    the script errors as Incomplete.  Default mode keeps the literal."""
    script = "UPDATE t SET c = 'a--b' WHERE id = 1;"
    (stmt,) = parse_script(script)  # quoted default: literal intact
    assert stmt.sets == (("c", "'a--b'"),)
    with pytest.raises(ScdScriptError, match="Incomplete"):
        parse_script(script, compat="reference")


def test_compat_reference_no_midline_split():
    """The reference completes a statement only when a LINE ends with
    ';' — mid-line semicolons don't split (SQLUpdater.java:139)."""
    script = "UPDATE t SET a=1 WHERE b=1; DELETE FROM t WHERE a=1;"
    assert len(parse_script(script)) == 2  # quoted default
    from hive_scd_spark.updates import _scan_statements

    raw = _scan_statements(script, compat="reference")
    assert len(raw) == 1  # one combined "statement", as H2 would receive


def test_compat_reference_time_directive_is_raw_prefix():
    """Reference matches the raw '-- time=' prefix only (:128); the
    quoted lexer's flexible '--  time=' form is a plain comment there."""
    script = "--  time=2014-09-01\nDELETE FROM t;"
    (flexible,) = parse_script(script)
    assert flexible.effective_ms == MS_2014_09_01
    (ref,) = parse_script(script, compat="reference")
    assert ref.effective_ms == 0  # directive not recognized → default epoch


def test_compat_reference_matches_default_on_plain_scripts():
    """On scripts without quoted edge cases the two lexers agree —
    including the reference's own example script."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "updates")
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    assert parse_script(text) == parse_script(text, compat="reference")


def test_compat_reference_multiline_join_and_semicolon_line():
    script = "UPDATE t\nSET a = 1\nWHERE b = 2;\nDELETE FROM t WHERE a\n= 1;"
    got = parse_script(script, compat="reference")
    assert [s.kind for s in got] == ["update", "delete"]
    assert got[0].where == "b = 2"
    assert got[1].where == "a = 1"


def test_compat_reference_trailing_comment_breaks_terminator():
    """Reference quirk, reproduced faithfully: comment-stripping the
    trimmed line leaves a trailing space (`"...; -- c"` → `"...; "`),
    so endsWith(';') fails and the statement joins the next line /
    errors as incomplete (SQLUpdater.java:133-139).  The quote-aware
    default handles trailing comments."""
    script = "DELETE FROM t; -- applied at ingest\n"
    (stmt,) = parse_script(script)
    assert stmt.kind == "delete"
    with pytest.raises(ScdScriptError, match="Incomplete"):
        parse_script(script, compat="reference")
