"""Avro through the bundled Hive AvroSerDe: on a Hive-enabled session a
directory read decodes in the JVM scan, and answers exactly as the
avro_lite fallback does (names, types apart from nullability, rows)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from hive_scd_spark.plans import plan_nodes
from hive_scd_spark.sources import avro as avro_mod
from hive_scd_spark.sources.avro import read_avro
from hive_scd_spark.sources.avro_lite import write_container

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(ROOT, "tests", "fixtures")
DOCTORS_READER = {
    "type": "record",
    "name": "doctors",
    "fields": [
        {"name": "number", "type": "int"},
        {"name": "first_name", "type": "string"},
        {"name": "last_name", "type": "string"},
        {"name": "extra_field", "type": "string", "default": "fishfingers and custard"},
    ],
}
TYPES = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "flag", "type": "boolean"},
        {"name": "small", "type": "int"},
        {"name": "ratio", "type": "float"},
        {"name": "amount", "type": "double"},
        {"name": "blob", "type": "bytes"},
        {"name": "label", "type": ["null", "string"], "default": None},
        {"name": "score", "type": ["null", "long"], "default": None},
    ],
}


def _types_rows(n):
    return [
        {
            "id": i,
            "flag": i % 3 == 0,
            "small": -i,
            "ratio": i / 8,
            "amount": i * 1.25,
            "blob": bytes([i % 256, 0, 255]),
            "label": None if i % 4 == 0 else f"l{i}",
            "score": None if i % 5 == 0 else i * 7,
        }
        for i in range(n)
    ]


def _is_serde(df):
    nodes = " ".join(plan_nodes(df))
    return nodes.startswith("Scan hive") and "MapInPandas" not in nodes


def _fallback(monkeypatch, *args, **kw):
    with monkeypatch.context() as m:
        m.setattr(avro_mod, "_read_serde", lambda *a: None)
        df = read_avro(*args, **kw)
        assert "MapInPandas" in " ".join(plan_nodes(df))
        return df


def _assert_same(serde_df, lite_df):
    """Same names, same types (nullability aside), same rows."""
    assert [(f.name, f.dataType) for f in serde_df.schema.fields] == [
        (f.name, f.dataType) for f in lite_df.schema.fields
    ]
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    assert sorted(map(tuple, serde_df.collect()), key=key) == sorted(
        map(tuple, lite_df.collect()), key=key
    )


def test_plan_is_hive_table_scan_without_python(spark, tmp_path):
    write_container(str(tmp_path / "a.avro"), TYPES, _types_rows(5))
    df = read_avro(spark, str(tmp_path))
    assert _is_serde(df)
    assert "HiveTableRelation" in df._jdf.queryExecution().analyzed().toString()


def test_golden_doctors_with_reader_default(spark, tmp_path, monkeypatch):
    shutil.copy(os.path.join(FIXTURES, "doctors.avro"), tmp_path / "doctors.avro")
    shutil.copy(os.path.join(FIXTURES, "updates"), tmp_path / ".updates")
    for reader in (None, json.dumps(DOCTORS_READER)):
        df = read_avro(spark, str(tmp_path), reader_schema=reader)
        assert _is_serde(df)
        _assert_same(df, _fallback(monkeypatch, spark, str(tmp_path), reader_schema=reader))
    rows = df.collect()
    assert len(rows) == 11
    assert {r.extra_field for r in rows} == {"fishfingers and custard"}


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_codecs_match_fallback(spark, tmp_path, monkeypatch, codec):
    rows = _types_rows(300)
    write_container(str(tmp_path / "a.avro"), TYPES, rows[:170], codec=codec, rows_per_block=19)
    write_container(str(tmp_path / "b.avro"), TYPES, rows[170:], codec=codec)
    df = read_avro(spark, str(tmp_path))
    assert _is_serde(df)
    assert df.count() == 300
    _assert_same(df, _fallback(monkeypatch, spark, str(tmp_path)))


def test_nullable_unions_and_primitive_types_match(spark, tmp_path, monkeypatch):
    write_container(str(tmp_path / "a.avro"), TYPES, _types_rows(40))
    df = read_avro(spark, str(tmp_path))
    assert _is_serde(df)
    _assert_same(df, _fallback(monkeypatch, spark, str(tmp_path)))
    got = {r.id: r for r in df.collect()}
    assert got[0].label is None and got[0].score is None and got[1].label == "l1"
    assert got[3].flag is True and got[3].small == -3 and got[3].ratio == 0.375
    assert got[3].blob == bytes([3, 0, 255])


def test_writer_schema_drift_reads_missing_field_as_null(spark, tmp_path, monkeypatch):
    """No reader schema: the first file's writer schema names the
    columns, and a later file lacking one of its nullable fields reads
    NULL there, as in avro_lite, even where the field has no default."""
    first = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "id", "type": "long"}, {"name": "label", "type": ["string", "null"]}],
    }
    old = {"type": "record", "name": "t", "fields": first["fields"][:1]}
    write_container(str(tmp_path / "a.avro"), first, [{"id": 1, "label": "x"}])
    write_container(str(tmp_path / "b.avro"), old, [{"id": 9}])
    df = read_avro(spark, str(tmp_path))
    assert _is_serde(df)
    _assert_same(df, _fallback(monkeypatch, spark, str(tmp_path)))
    assert {r.id: r.label for r in df.collect()} == {1: "x", 9: None}


def test_mixed_case_field_keeps_its_case(spark, tmp_path, monkeypatch):
    schema = {
        "type": "record",
        "name": "m",
        "fields": [{"name": "camelCol", "type": "long"}, {"name": "Other_X", "type": "string"}],
    }
    write_container(str(tmp_path / "a.avro"), schema, [{"camelCol": 1, "Other_X": "a"}])
    df = read_avro(spark, str(tmp_path))
    assert _is_serde(df)
    assert df.columns == ["camelCol", "Other_X"]
    _assert_same(df, _fallback(monkeypatch, spark, str(tmp_path)))


def test_hidden_files_skipped(spark, tmp_path):
    write_container(str(tmp_path / "part-0.avro"), TYPES, _types_rows(4))
    (tmp_path / ".updates").write_text("DELETE FROM t WHERE id = 1;")
    (tmp_path / "_SUCCESS").write_text("")
    df = read_avro(spark, str(tmp_path))
    assert _is_serde(df)
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3]

    from hive_scd_spark.scd import read_scd

    assert sorted(r.id for r in read_scd(spark, str(tmp_path)).collect()) == [0, 2, 3]


def test_no_table_left_behind(spark, tmp_path):
    write_container(str(tmp_path / "a.avro"), TYPES, _types_rows(4))
    before = {t.name for t in spark.catalog.listTables()}
    for _ in range(3):
        df = read_avro(spark, str(tmp_path))
        assert _is_serde(df)
    assert {t.name for t in spark.catalog.listTables()} == before
    # the frame outlives its table: the plan holds the resolved relation
    assert df.filter("id > 1").count() == 2


def test_quote_in_path_and_schema(spark, tmp_path, monkeypatch):
    d = tmp_path / "it's here"
    d.mkdir()
    write_container(str(d / "a.avro"), TYPES, _types_rows(6))
    reader = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "note", "type": "string", "default": "it's \\ \"x\""},
        ],
    }
    df = read_avro(spark, str(d), reader_schema=reader)
    assert _is_serde(df)
    assert {r.note for r in df.collect()} == {"it's \\ \"x\""}
    _assert_same(df, _fallback(monkeypatch, spark, str(d), reader_schema=reader))
    # a parser that takes no escapes cannot quote them: avro_lite reads
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        raw = read_avro(spark, str(d), reader_schema=reader)
        assert "MapInPandas" in " ".join(plan_nodes(raw))
        _assert_same(df, raw)
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_relative_path_is_qualified(spark, tmp_path, monkeypatch):
    write_container(str(tmp_path / "a.avro"), TYPES, _types_rows(3))
    monkeypatch.chdir(tmp_path.parent)
    df = read_avro(spark, tmp_path.name)
    assert _is_serde(df)
    assert df.count() == 3


def test_inputs_the_serde_cannot_take_use_avro_lite(spark, tmp_path):
    """A single file, a directory with a data subdirectory (which Hive's
    record reader refuses), an explicit split size, a list of directories
    and a logical type the SerDe would type differently all read through
    avro_lite."""
    write_container(str(tmp_path / "a.avro"), TYPES, _types_rows(3))
    for name in ("sub", "other"):
        (tmp_path / name).mkdir()
        write_container(str(tmp_path / name / "b.avro"), TYPES, _types_rows(2))
    sub = tmp_path / "sub"
    for df in (
        read_avro(spark, str(tmp_path / "a.avro")),
        read_avro(spark, str(tmp_path)),
        read_avro(spark, str(sub), split_bytes=1 << 20),
        read_avro(spark, [str(sub), str(tmp_path / "other")]),
    ):
        assert "MapInPandas" in " ".join(plan_nodes(df))
        assert df.count() > 0

    dated = {
        "type": "record",
        "name": "d",
        "fields": [{"name": "day", "type": {"type": "int", "logicalType": "date"}}],
    }
    d = tmp_path / "dated"
    d.mkdir()
    write_container(str(d / "a.avro"), dated, [{"day": 19000}])
    df = read_avro(spark, str(d))
    assert "MapInPandas" in " ".join(plan_nodes(df))
    assert [r.day for r in df.collect()] == [19000]


def test_no_metastore_files_in_working_directory(tmp_path):
    """A fresh session's first Avro read boots the Derby metastore; it
    leaves no derby.log or metastore_db/ in the working directory."""
    data = tmp_path / "data"
    data.mkdir()
    write_container(str(data / "a.avro"), TYPES, _types_rows(3))
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    code = (
        "from hive_scd_spark.plans import plan_nodes\n"
        "from hive_scd_spark.session import get_spark\n"
        "from hive_scd_spark.sources.avro import read_avro\n"
        "spark = get_spark('metastore-files-test', shuffle_partitions=2)\n"
        f"df = read_avro(spark, {str(data)!r})\n"
        "assert plan_nodes(df)[0].startswith('Scan hive')\n"
        "assert df.count() == 3\n"
        "assert spark.catalog.listTables() == []\n"
        "spark.stop()\n"
    )
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert sorted(os.listdir(cwd)) == []
