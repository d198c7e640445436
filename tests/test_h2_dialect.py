"""H2-dialect compat shim (SURVEY §7.4; reference evaluates DML
fragments with H2, SQLUpdater.java:77).  translate_h2 rewrites the
H2-isms that are NOT valid Spark SQL; everything else passes through
byte-identically."""

from __future__ import annotations

import pytest

from hive_scd_spark.scd import apply_statements
from hive_scd_spark.updates import ScdScriptError, parse_script, translate_h2


# -- pure string rewrites ----------------------------------------------------


def test_casewhen_to_if():
    assert translate_h2("CASEWHEN(a > 1, 'x', 'y')") == "if(a > 1, 'x', 'y')"


def test_casewhen_nested_and_case_insensitive():
    assert (
        translate_h2("CaseWhen(CASEWHEN(a=1,1,2) = 1, b, c)")
        == "if(if(a=1,1,2) = 1, b, c)"
    )


def test_casewhen_inside_string_literal_untouched():
    s = "name = 'CASEWHEN(not a call)'"
    assert translate_h2(s) == s


def test_quoted_identifier_untouched():
    s = '"casewhen" = 1'
    assert translate_h2(s) == s


def test_dateadd_quoted_unit():
    assert (
        translate_h2("DATEADD('DAY', 3, o_orderdate)")
        == "timestampadd(DAY, 3, o_orderdate)"
    )


def test_dateadd_bare_unit():
    assert translate_h2("dateadd(month, 1, d)") == "timestampadd(month, 1, d)"


def test_spark_two_arg_dateadd_untouched():
    # Spark's own dateadd(date, days) — first arg is not a unit
    s = "dateadd(o_orderdate, 3)"
    assert translate_h2(s) == s


def test_datediff_quoted_unit():
    assert (
        translate_h2("DATEDIFF('DAY', a, b) > 0") == "timestampdiff(DAY, a, b) > 0"
    )


def test_spark_two_arg_datediff_untouched():
    s = "datediff(end_d, start_d)"
    assert translate_h2(s) == s


def test_sysdate_keyword():
    assert translate_h2("o_orderdate < SYSDATE") == "o_orderdate < current_timestamp()"


def test_sysdate_as_function_call_untouched():
    # only the bare H2 keyword form is rewritten
    s = "sysdate(x)"
    assert translate_h2(s) == s


def test_curtime_rejected_loudly():
    with pytest.raises(ScdScriptError, match="CURTIME"):
        translate_h2("t > CURTIME()")
    with pytest.raises(ScdScriptError, match="CURRENT_TIME"):
        translate_h2("t > CURRENT_TIME")


def test_valid_spark_fragment_unchanged():
    s = "coalesce(nvl(a, b), ifnull(c, d)) || '-' || decode(e, 1, 'one', 'other')"
    assert translate_h2(s) == s


# -- through the parser ------------------------------------------------------


def test_parse_script_translates_set_and_where():
    stmts = parse_script(
        "UPDATE t SET a = CASEWHEN(b = 1, 2, 3) WHERE DATEADD('DAY', 1, d) > d2;"
    )
    assert stmts[0].sets == (("a", "if(b = 1, 2, 3)"),)
    assert stmts[0].where == "timestampadd(DAY, 1, d) > d2"


def test_parse_script_translates_delete_where():
    stmts = parse_script("DELETE FROM t WHERE CASEWHEN(x > 1, TRUE, FALSE);")
    assert stmts[0].where == "if(x > 1, TRUE, FALSE)"


# -- end to end through apply_statements -------------------------------------


def test_h2_script_end_to_end(spark):
    df = spark.createDataFrame(
        [(1, "1-URGENT", 10.0), (2, "5-LOW", 20.0), (3, "1-URGENT", 999.0)],
        "k int, pri string, price double",
    )
    script = (
        "UPDATE t SET pri = CASEWHEN(pri = '1-URGENT', 'TOP', pri) "
        "WHERE NVL(price, 0.0) < 100.0;\n"
        "DELETE FROM t WHERE CASEWHEN(price > 500.0, TRUE, FALSE);\n"
    )
    out = {r["k"]: r["pri"] for r in apply_statements(df, script).collect()}
    assert out == {1: "TOP", 2: "5-LOW"}


# -- reference-lexer negative-as-of pin (round-3 ADVICE item 3) --------------


def test_reference_lexer_negative_asof_skips_predirective_tail():
    """compat='reference', as_of<0 (raw mode): the reference inits
    currentScdTime=0 and `0 <= rootScdTime` is false, so pre-directive
    lines are never lexed — an incomplete tail is silently skipped, not
    'Incomplete SQL'.  At as_of>=0 the same tail IS lexed and raises."""
    from hive_scd_spark.updates import _scan_statements_reference

    incomplete = "UPDATE t SET x = 1\n"  # no terminating ';'
    assert _scan_statements_reference(incomplete, as_of_ms=-1) == []
    with pytest.raises(ScdScriptError, match="Incomplete"):
        _scan_statements_reference(incomplete, as_of_ms=0)


# -- round-6 shim growth: CONCAT / INSTR / REGEXP_LIKE / pass-throughs -------


def test_concat_null_semantics_rewrite():
    got = translate_h2("CONCAT(a, 'x', b)")
    assert got == "concat(coalesce(a, ''), coalesce('x', ''), coalesce(b, ''))"


def test_concat_nested_h2_construct_translated_inside():
    got = translate_h2("Concat(CASEWHEN(a = 1, 'y', 'n'), b)")
    assert got == "concat(coalesce(if(a = 1, 'y', 'n'), ''), coalesce(b, ''))"


def test_concat_inside_string_literal_untouched():
    assert translate_h2("x = 'use CONCAT(a,b) here'") == "x = 'use CONCAT(a,b) here'"


def test_concat_too_few_args_rejected():
    with pytest.raises(ScdScriptError, match="CONCAT"):
        translate_h2("CONCAT(a)")


def test_instr_two_arg_untouched():
    assert translate_h2("INSTR(s, 'x')") == "INSTR(s, 'x')"


def test_instr_three_arg_swaps_to_locate():
    assert translate_h2("INSTR(s, 'x', 3)") == "locate('x', s, 3)"
    # nested commas in args split at top level only
    assert (
        translate_h2("instr(CASEWHEN(a=1, s, t), 'x', 2)")
        == "locate('x', if(a=1, s, t), 2)"
    )


def test_regexp_like_two_arg_untouched():
    assert translate_h2("REGEXP_LIKE(s, 'a.c')") == "REGEXP_LIKE(s, 'a.c')"


def test_regexp_like_flags_fold_to_embedded():
    assert (
        translate_h2("REGEXP_LIKE(s, 'a.c', 'i')")
        == "regexp_like(s, concat('(?i)', 'a.c'))"
    )
    # 'n' is Java DOTALL, 'c' is the default (no embedded flag)
    assert (
        translate_h2("regexp_like(s, p, 'in')")
        == "regexp_like(s, concat('(?is)', p))"
    )
    assert translate_h2("regexp_like(s, p, 'c')") == "regexp_like(s, p)"


def test_regexp_like_bad_flags_rejected():
    with pytest.raises(ScdScriptError, match="flags must be a string literal"):
        translate_h2("regexp_like(s, p, f)")
    with pytest.raises(ScdScriptError, match="unsupported H2 REGEXP_LIKE flag"):
        translate_h2("regexp_like(s, p, 'ix')")


def test_literal_arguments_read_as_one_token():
    """A format, flags or unit argument is one ``'…'`` token, ``''``
    included: its content is then checked, not reported as a
    non-literal."""
    with pytest.raises(ScdScriptError, match="unsupported H2 TO_CHAR format element"):
        translate_h2("TO_CHAR(ts, 'YYYY''MM')")
    with pytest.raises(ScdScriptError, match="unsupported H2 REGEXP_LIKE flag \"'\""):
        translate_h2("REGEXP_LIKE(a, 'x', 'i''')")
    with pytest.raises(ScdScriptError, match="TRUNC is supported only as datetime"):
        translate_h2("TRUNC(d, 'MO''NTH')")


def test_locate_ifnull_nvl_pass_through():
    for frag in (
        "LOCATE('x', s)",
        "LOCATE('x', s, 2)",
        "IFNULL(a, 'd')",
        "NVL(a, 'd')",
        "NVL2(a, b, c)",
        "a || b",
    ):
        assert translate_h2(frag) == frag


def test_concat_h2_semantics_end_to_end(spark):
    """The rewritten CONCAT must produce H2's NULL-skipping result when
    Spark evaluates it."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("x", None)], "a string, b string")
    frag = translate_h2("CONCAT(a, b, '!')")
    got = df.select(F.expr(frag).alias("r")).collect()[0]["r"]
    assert got == "x!"  # H2 skips the NULL; raw Spark concat would be NULL


def test_regexp_like_flags_end_to_end(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("AbC\ndef",)], "s string")
    frag = translate_h2("REGEXP_LIKE(s, 'abc', 'i')")
    assert df.select(F.expr(frag).alias("r")).collect()[0]["r"] is True
    frag2 = translate_h2("REGEXP_LIKE(s, 'C.d', 'in')")
    assert df.select(F.expr(frag2).alias("r")).collect()[0]["r"] is True


def test_bit_functions_rewrite_to_operators(spark):
    """H2 spells bit ops as functions; Spark's bit_and/bit_or are
    AGGREGATES, so the shim must emit the operators, not the names."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(12, 10)], "a int, b int")
    frag = translate_h2("BITAND(a, b) + BITOR(a, b) + BITXOR(a, b)")
    got = df.select(F.expr(frag).alias("r")).collect()[0]["r"]
    assert got == (12 & 10) + (12 | 10) + (12 ^ 10)
    frag2 = translate_h2("LSHIFT(a, 2) + RSHIFT(b, 1)")
    got2 = df.select(F.expr(frag2).alias("r")).collect()[0]["r"]
    assert got2 == (12 << 2) + (10 >> 1)


def test_date_alias_rewrites_end_to_end(spark):
    from pyspark.sql import functions as F

    # 2024-03-15 is a Friday: H2 DAY_OF_WEEK (Sun=1) = 6, ISO = 5
    frag = translate_h2(
        "DAY_OF_WEEK(DATE '2024-03-15') * 10 + ISO_DAY_OF_WEEK(DATE '2024-03-15')"
    )
    got = spark.range(1).select(F.expr(frag).alias("r")).collect()[0]["r"]
    assert got == 65


def test_string_insert_rewrites_to_overlay(spark):
    from pyspark.sql import functions as F

    frag = translate_h2("INSERT('abcdef', 2, 3, 'XY')")
    got = spark.range(1).select(F.expr(frag).alias("r")).collect()[0]["r"]
    assert got == "aXYef"  # H2: replace 3 chars from position 2 with 'XY'


def test_truncate_rejected_loudly():
    with pytest.raises(ScdScriptError, match="numeric TRUNCATE"):
        translate_h2("TRUNCATE(bal, 2)")


def test_curdate_and_random_uuid(spark):
    from pyspark.sql import functions as F

    assert translate_h2("CURDATE") == "current_date()"
    assert translate_h2("CURDATE()") == "current_date()"
    frag = translate_h2("RANDOM_UUID()")
    got = spark.range(1).select(F.expr(frag).alias("r")).collect()[0]["r"]
    assert len(got) == 36 and got.count("-") == 4


def test_shift_distance_must_be_literal_in_range():
    """H2 shifts diverge from Spark's mod-64 wrap outside [0, 63] —
    out-of-range and non-literal distances must fail loudly."""
    assert translate_h2("LSHIFT(x, 2)") == "shiftleft(x, 2)"
    for bad in ("LSHIFT(x, 64)", "RSHIFT(x, -1)", "LSHIFT(x, n)"):
        with pytest.raises(ScdScriptError, match="distance must be a literal"):
            translate_h2(bad)


def test_curdate_with_arguments_rejected():
    with pytest.raises(ScdScriptError, match="CURDATE takes no arguments"):
        translate_h2("CURDATE('junk', col_x)")


# --- r7: INSERT boundary semantics, TO_CHAR, TRUNC(date) --------------------


def test_string_insert_boundary_returns_original(spark):
    """H2/MySQL return the ORIGINAL string when start < 1,
    start > length(s)+1, or len <= 0 — Spark overlay splices anyway
    (overlay('abcdef','XY',0,3) = 'XYcdef'), so the shim's CASE wrapper
    is load-bearing.  Expected values hand-derived from the documented
    H2/MySQL boundary contract (ADVICE r6)."""
    from pyspark.sql import functions as F

    cases = {
        "INSERT('abcdef', 0, 3, 'XY')": "abcdef",      # start < 1
        "INSERT('abcdef', -2, 3, 'XY')": "abcdef",     # start < 1
        "INSERT('abcdef', 8, 3, 'XY')": "abcdef",      # start > len+1
        "INSERT('abcdef', 2, 0, 'XY')": "abcdef",      # len <= 0
        "INSERT('abcdef', 2, -1, 'XY')": "abcdef",     # len <= 0
        "INSERT('abcdef', 7, 3, 'XY')": "abcdefXY",    # start = len+1: append
        "INSERT('abcdef', 2, 3, 'XY')": "aXYef",       # in range
        "INSERT('abcdef', 2, 99, 'XY')": "aXY",        # len past end: to end
    }
    exprs = [
        F.expr(translate_h2(frag)).alias(f"c{i}")
        for i, frag in enumerate(cases)
    ]
    row = spark.range(1).select(*exprs).collect()[0]
    got = {frag: row[f"c{i}"] for i, frag in enumerate(cases)}
    assert got == cases


def test_string_insert_h2_null_and_empty_semantics(spark):
    """H2's StringFunction.insert is NOT null-propagating: a NULL
    original returns the replacement, a NULL replacement returns the
    original, and an EMPTY replacement returns the original (a bare
    overlay would splice '' and delete len chars).  The r6 shim
    propagated NULL — a silent divergence the review caught; these pin
    the H2-exact behavior."""
    from pyspark.sql import functions as F

    cases = {
        "INSERT(CAST(NULL AS STRING), 2, 3, 'XY')": "XY",
        "INSERT('abcdef', 2, 3, CAST(NULL AS STRING))": "abcdef",
        "INSERT('abcdef', 2, 3, '')": "abcdef",
    }
    exprs = [
        F.expr(translate_h2(frag)).alias(f"c{i}") for i, frag in enumerate(cases)
    ]
    row = spark.range(1).select(*exprs).collect()[0]
    assert {frag: row[f"c{i}"] for i, frag in enumerate(cases)} == cases


def test_string_insert_rejects_nondeterministic_args():
    import pytest as _pytest

    from hive_scd_spark.updates import ScdScriptError

    with _pytest.raises(ScdScriptError, match="non-deterministic"):
        translate_h2("INSERT(RANDOM_UUID(), 1, 0, 'X')")
    for frag in (
        "INSERT(RAND(), 1, 0, 'X')",
        "INSERT('a', 1, 0, uuid())",
        "INSERT('a', CAST(rand() * 3 AS INT), 0, 'X')",
    ):
        with _pytest.raises(ScdScriptError, match="non-deterministic"):
            translate_h2(frag)


def test_string_insert_guard_is_function_head_not_substring():
    """ADVICE r8 #2: identifiers that merely CONTAIN a banned name —
    operand(x), veranda(x), my_uuid_col — must not trip the guard; only
    a real function head (word boundary + '(') is non-deterministic."""
    for frag in (
        "INSERT(operand(x), 1, 0, 'X')",      # ...rand( inside a word
        "INSERT('a', 1, 0, veranda(x))",       # ...randa( is not rand(
        "INSERT(my_uuid_col, 1, 0, 'X')",      # uuid as identifier, no call
        "INSERT(errands, 1, 0, 'X')",          # bare column name
    ):
        out = translate_h2(frag)
        assert out.startswith("(CASE")


def test_to_char_rejects_fused_adjacent_elements():
    """'MMMM' is MM+MM in H2 ('0303') but a full month name as a Java
    pattern; 'SSSS' is not even a valid Java pattern (execution-time
    SparkUpgradeException).  Both must be rejected at translate time."""
    import pytest as _pytest

    from hive_scd_spark.updates import ScdScriptError

    for fmt in ("MMMM", "SSSS", "YYYYYY", "DDDD"):
        with _pytest.raises(ScdScriptError, match="fuse"):
            translate_h2(f"TO_CHAR(TIMESTAMP '2024-03-15 13:07:09', '{fmt}')")


def test_to_char_datetime_format_translates(spark):
    from pyspark.sql import functions as F

    frag = translate_h2("TO_CHAR(TIMESTAMP '2024-03-15 13:07:09', 'YYYY-MM-DD HH24:MI:SS')")
    got = spark.range(1).select(F.expr(frag).alias("r")).collect()[0]["r"]
    assert got == "2024-03-15 13:07:09"
    # 12-hour + 2-digit year, case-insensitive elements
    frag2 = translate_h2("TO_CHAR(TIMESTAMP '2024-03-15 13:07:09', 'yy/mm/dd hh12:mi')")
    got2 = spark.range(1).select(F.expr(frag2).alias("r")).collect()[0]["r"]
    assert got2 == "24/03/15 01:07"


def test_to_char_rejects_unmappable_forms():
    with pytest.raises(ScdScriptError, match="unsupported H2 TO_CHAR format"):
        translate_h2("TO_CHAR(d, 'DD-MON-YYYY')")  # word element
    with pytest.raises(ScdScriptError, match="unsupported H2 TO_CHAR format"):
        translate_h2("TO_CHAR(n, '9990.99')")  # numeric model
    with pytest.raises(ScdScriptError, match="format must be a string literal"):
        translate_h2("TO_CHAR(d, fmt_col)")
    with pytest.raises(ScdScriptError, match="2-argument datetime form"):
        translate_h2("TO_CHAR(n)")


def test_trunc_datetime_translates(spark):
    from pyspark.sql import functions as F

    frag = translate_h2("TRUNC(TIMESTAMP '2024-03-15 13:07:09', 'MONTH')")
    got = spark.range(1).select(F.expr(frag).cast("string").alias("r")).collect()[0]["r"]
    assert got == "2024-03-01 00:00:00"
    # Oracle alias units
    frag2 = translate_h2("TRUNC(TIMESTAMP '2024-03-15 13:07:09', 'Q')")
    got2 = spark.range(1).select(F.expr(frag2).cast("string").alias("r")).collect()[0]["r"]
    assert got2 == "2024-01-01 00:00:00"


def test_trunc_numeric_and_bare_rejected():
    for bad in ("TRUNC(bal)", "TRUNC(bal, 2)", "TRUNC(d, unit_col)"):
        with pytest.raises(ScdScriptError, match="TRUNC is supported only as datetime"):
            translate_h2(bad)


def test_regexp_replace_flagged_form_folds_flags():
    """VERDICT r8 task 10: 4-arg H2 REGEXP_REPLACE carries FLAGS where
    Spark's own 4-arg form reads a start position — the shim folds the
    flags into the pattern; non-literal or unknown flags fail loudly;
    the 3-arg form passes through untouched."""
    out = translate_h2("REGEXP_REPLACE(x, 'urgent', 'U', 'i')")
    assert out == "regexp_replace(x, concat('(?i)', 'urgent'), 'U')"
    out = translate_h2("REGEXP_REPLACE(x, p, r, 'c')")
    assert out == "regexp_replace(x, p, r)"
    out = translate_h2("REGEXP_REPLACE(x, p, r, 'in')")
    assert out == "regexp_replace(x, concat('(?is)', p), r)"
    assert translate_h2("REGEXP_REPLACE(x, p, r)") == "REGEXP_REPLACE(x, p, r)"
    with pytest.raises(ScdScriptError, match="flags must be a string literal"):
        translate_h2("REGEXP_REPLACE(x, p, r, 2)")
    with pytest.raises(ScdScriptError, match="unsupported H2 REGEXP_REPLACE flag"):
        translate_h2("REGEXP_REPLACE(x, p, r, 'g')")


def test_formatdatetime_maps_agreeing_subset_only():
    out = translate_h2("FORMATDATETIME(ts, 'yyyy/MM/dd')")
    assert out == "date_format(ts, 'yyyy/MM/dd')"
    out = translate_h2("FORMATDATETIME(ts, 'dd.MM.yy HH:mm:ss')")
    assert out == "date_format(ts, 'dd.MM.yy HH:mm:ss')"
    # word elements / zone letters / quoted literals / overloads: loud
    for bad in (
        "FORMATDATETIME(ts, 'MMM yyyy')",      # month NAME: locale form
        "FORMATDATETIME(ts, 'yyyy-MM-dd''T''HH')",  # quoted literal
        "FORMATDATETIME(ts, 'EEE')",
        "FORMATDATETIME(ts, 'yyyyyy')",        # run length divergence
    ):
        with pytest.raises(ScdScriptError, match="FORMATDATETIME"):
            translate_h2(bad)
    with pytest.raises(ScdScriptError, match="2-argument"):
        translate_h2("FORMATDATETIME(ts, 'yyyy', 'de')")
    with pytest.raises(ScdScriptError, match="string literal"):
        translate_h2("FORMATDATETIME(ts, fmt_col)")


def test_formatdatetime_and_flagged_replace_run_in_spark(spark):
    """The two new rewrites execute end-to-end and render exactly as
    H2 would on the agreeing subset."""
    from hive_scd_spark.updates import translate_h2 as tr

    df = spark.createDataFrame(
        [("1-URGENT", "1996-03-05 10:20:30")], "p string, ts string"
    ).selectExpr("p", "CAST(ts AS TIMESTAMP) AS ts")
    row = df.selectExpr(
        tr("REGEXP_REPLACE(p, 'urgent', 'URGT', 'i')") + " AS rr",
        tr("FORMATDATETIME(ts, 'yyyy/MM/dd HH:mm')") + " AS fd",
    ).first()
    assert row.rr == "1-URGT"
    assert row.fd == "1996/03/05 10:20"
