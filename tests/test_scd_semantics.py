"""Semantics unit tests per SURVEY.md §5(2) / FIXTURES.md Fixture 2 —
ordering, pre-image SET, 3-valued logic, partition scoping, types."""

from __future__ import annotations

import json

import pytest

from hive_scd_spark.scd import apply_statements, read_scd
from hive_scd_spark.sources.avro_lite import write_container


def df_of(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


def test_statement_ordering_later_sees_earlier(spark):
    # FIXTURES: UPDATE a=2 WHERE a=1; DELETE WHERE a=2 → original a=1 rows gone
    df = df_of(spark, [(1,), (2,), (3,)], "a int")
    out = apply_statements(
        df, "UPDATE t SET a = 2 WHERE a = 1; DELETE FROM t WHERE a = 2;"
    )
    assert sorted(r.a for r in out.collect()) == [3]


def test_preimage_set_semantics_swap(spark):
    # SET a=b, b=a swaps — both RHS see pre-statement values (SURVEY §3.4)
    df = df_of(spark, [(1, 10), (2, 20)], "a int, b int")
    out = apply_statements(df, "UPDATE t SET a = b, b = a;")
    rows = {r.a: r.b for r in out.collect()}
    assert rows == {10: 1, 20: 2}


def test_where_sees_preimage_too(spark):
    # the WHERE and all SETs evaluate against the same pre-statement row
    df = df_of(spark, [(1, 10)], "a int, b int")
    out = apply_statements(df, "UPDATE t SET a = 99, b = a + 1 WHERE a = 1;")
    (row,) = out.collect()
    assert (row.a, row.b) == (99, 2)


def test_null_predicate_keeps_row_unchanged(spark):
    # NULL ⇒ no match — not an update, and crucially not a delete
    df = df_of(spark, [(1, None), (2, 10)], "a int, b int")
    out = apply_statements(df, "UPDATE t SET a = 0 WHERE b > 5;")
    rows = {r.a for r in out.collect()}
    assert rows == {1, 0}
    out2 = apply_statements(df, "DELETE FROM t WHERE b > 5;")
    assert [r.a for r in out2.collect()] == [1]  # NULL-pred row survives


def test_delete_without_where_removes_all(spark):
    df = df_of(spark, [(1,), (2,)], "a int")
    assert apply_statements(df, "DELETE FROM t;").count() == 0


def test_update_without_where_applies_to_all(spark):
    df = df_of(spark, [(1,), (2,)], "a int")
    out = apply_statements(df, "UPDATE t SET a = a + 100;")
    assert sorted(r.a for r in out.collect()) == [101, 102]


def test_compound_predicates_and_functions(spark):
    df = df_of(
        spark,
        [(1, "xena", None), (1, "yara", "q"), (2, "xen", "r")],
        "a int, b string, c string",
    )
    out = apply_statements(
        df, "DELETE FROM t WHERE a = 1 AND (b LIKE 'x%' OR c IS NULL);"
    )
    assert sorted(r.b for r in out.collect()) == ["xen", "yara"]


def test_arithmetic_set_with_between(spark):
    df = df_of(spark, [(100.0, 1), (200.0, 5), (300.0, 10)], "price double, qty int")
    out = apply_statements(
        df, "UPDATE t SET price = price * 1.1 WHERE qty BETWEEN 2 AND 9;"
    )
    rows = {r.qty: r.price for r in out.collect()}
    assert rows[1] == 100.0 and rows[10] == 300.0
    assert rows[5] == pytest.approx(220.0)


def test_set_type_coercion_preserves_schema(spark):
    # assigning an int literal to a double column keeps the column double
    df = df_of(spark, [(1.5,)], "x double")
    out = apply_statements(df, "UPDATE t SET x = 2;")
    assert out.schema["x"].dataType.typeName() == "double"
    assert out.collect()[0].x == 2.0


def test_identifier_case_insensitive(spark):
    # H2 resolves unquoted identifiers case-insensitively (SURVEY §1.2)
    df = df_of(spark, [(1,)], "MyCol int")
    out = apply_statements(df, "UPDATE t SET mycol = 5 WHERE MYCOL = 1;")
    assert out.collect()[0]["MyCol"] == 5


def test_unknown_set_column_fails_fast(spark):
    df = df_of(spark, [(1,)], "a int")
    with pytest.raises(ValueError, match="unknown column"):
        apply_statements(df, "UPDATE t SET nope = 1;")


def test_bad_expression_fails_at_compile_time(spark):
    # deviation A12: fail fast, not silent row drop
    df = df_of(spark, [(1,)], "a int")
    with pytest.raises(Exception):
        apply_statements(df, "UPDATE t SET a = not_a_col + 1;")


def test_partition_scoped_updates(spark, tmp_path):
    # A11: each partition dir carries its own .updates
    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "k", "type": "int"}, {"name": "v", "type": "string"}],
    }
    for part, rows, script in [
        ("p=1", [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}], "UPDATE t SET v = 'A' WHERE k = 1;"),
        ("p=2", [{"k": 3, "v": "c"}, {"k": 4, "v": "d"}], "DELETE FROM t WHERE k = 4;"),
        ("p=3", [{"k": 5, "v": "e"}], None),  # no .updates → passthrough
    ]:
        d = tmp_path / part
        d.mkdir()
        write_container(str(d / "data.avro"), schema, rows)
        if script:
            (d / ".updates").write_text(script)
    df = read_scd(spark, str(tmp_path), as_of=None)
    rows = {r.k: r.v for r in df.collect()}
    assert rows == {1: "A", 2: "b", 3: "c", 5: "e"}


def test_parquet_format_scd(spark, tmp_path):
    # format-agnostic by design (SURVEY §2.B sources row)
    d = tmp_path / "dim"
    d.mkdir()
    spark.createDataFrame([(1, "x"), (2, "y")], "id int, name string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(d))
    (d / ".updates").write_text("UPDATE dim SET name = upper(name) WHERE id = 1;")
    df = read_scd(spark, str(d), as_of=None, format="parquet")
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {1: "X", 2: "y"}


def test_dotfile_updates_not_read_as_data(spark, tmp_path):
    # why the reference can co-locate .updates: readers skip dotfiles
    d = tmp_path / "dim2"
    d.mkdir()
    spark.createDataFrame([(1,)], "id int").write.mode("overwrite").parquet(str(d))
    (d / ".updates").write_text("DELETE FROM dim2 WHERE id < 0;")
    assert spark.read.parquet(str(d)).count() == 1


def test_schema_evolution_default_then_update_on_new_column(spark, tmp_path):
    # DML may reference evolved columns (AvroSCDInputFormat.java:141-154)
    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "id", "type": "int"}],
    }
    reader = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "tag", "type": "string", "default": "none"},
        ],
    }
    d = tmp_path / "evo"
    d.mkdir()
    write_container(str(d / "data.avro"), schema, [{"id": 1}, {"id": 2}])
    (d / ".updates").write_text("UPDATE t SET tag = 'hot' WHERE id = 2;")
    df = read_scd(spark, str(d), as_of=None, schema=json.dumps(reader))
    rows = {r.id: r.tag for r in df.collect()}
    assert rows == {1: "none", 2: "hot"}


def test_unknown_statement_kind_rejected(spark, sf_dir):
    """apply_statements fails fast on a Stmt whose kind is neither
    update nor delete — the guard is a real branch, not dead code
    (VERDICT r4 #8: no untested branches behind coverage pragmas)."""
    import pytest

    from hive_scd_spark.queries import t
    from hive_scd_spark.scd import apply_statements
    from hive_scd_spark.updates import Stmt

    bogus = Stmt(kind="merge", table="customer", sql="MERGE INTO customer")
    with pytest.raises(ValueError, match="Unknown statement kind"):
        apply_statements(t(spark, sf_dir, "customer"), [bogus], as_of=None)


# -- splice safety: statement text reaches spark.sql only as one expression --


@pytest.mark.parametrize(
    "where",
    [
        "a = 1) x UNION ALL SELECT 1 AS a FROM (SELECT 1",
        # closes the compiled DELETE's own brackets: valid SQL once spliced
        "a = 1) AS boolean), false) UNION ALL SELECT 7 AS a WHERE NOT coalesce(CAST((false",
    ],
)
def test_where_that_is_not_one_expression_raises_and_runs_nothing(spark, where):
    df = df_of(spark, [(1,), (2,)], "a int")
    sc = spark.sparkContext
    sc.setJobGroup("splice-check", "jobs started by a rejected statement")
    try:
        with pytest.raises(Exception, match="PARSE_SYNTAX_ERROR"):
            apply_statements(df, f"DELETE FROM t WHERE {where};")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("splice-check") == []


def test_braces_in_set_literal_stay_literal(spark):
    df = df_of(spark, [(1, "a")], "k int, s string")
    out = apply_statements(df, "UPDATE t SET s = '{x}' WHERE k = 1; UPDATE t SET s = s || '}}';")
    assert [r.s for r in out.collect()] == ["{x}}}"]


def test_column_names_with_space_and_backtick(spark):
    df = df_of(
        spark,
        [(1, 10, 20, (0,), 3)],
        "k int, `my col` int, `a``b` int, s struct<`x y`: int>, `a,b` int",
    )
    out = apply_statements(
        df,
        "UPDATE t SET `my col` = `my col` + 1, `a``b` = k, s = named_struct('x y', 5),"
        " `a,b` = `a,b` * 2 WHERE `a``b` = 20;",
    )
    row = out.collect()[0]
    assert (row["my col"], row["a`b"], row["s"]["x y"], row["a,b"]) == (11, 1, 5, 6)
    assert out.columns == ["k", "my col", "a`b", "s", "a,b"]
