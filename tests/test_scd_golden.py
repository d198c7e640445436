"""Golden end-to-end test — the reference's worked `doctors` example
(FIXTURES.md Fixture 1: the 11 rows in file order as deflate Avro in
tests/fixtures/doctors.avro, the verbatim script in
tests/fixtures/updates; golden outputs README.md:103-212), run through
read_scd at the four as-of settings."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from hive_scd_spark.scd import read_scd

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
DOCTORS_AVRO = os.path.join(FIXTURES, "doctors.avro")
UPDATES = os.path.join(FIXTURES, "updates")
READER_SCHEMA = {
    "type": "record",
    "name": "doctors",
    "fields": [
        {"name": "number", "type": "int"},
        {"name": "first_name", "type": "string"},
        {"name": "last_name", "type": "string"},
        {
            "name": "extra_field",
            "type": "string",
            "default": "fishfingers and custard",
        },
    ],
}


@pytest.fixture(scope="module")
def doctors_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("doctors_scd")
    shutil.copy(DOCTORS_AVRO, d / "doctors.avro")
    shutil.copy(UPDATES, d / ".updates")
    return str(d)


def rows_by_name(df):
    return {r["last_name"] + "/" + r["first_name"]: r.asDict() for r in df.collect()}


def test_raw_negative_asof(spark, doctors_dir):
    # README.md:196-212 — scd.time=-1 applies nothing
    df = read_scd(spark, doctors_dir, as_of=-1, schema=json.dumps(READER_SCHEMA))
    rows = rows_by_name(df)
    assert len(rows) == 11
    assert rows["Troughton/Patrick"]["number"] == 2
    assert "Baker/Colin" in rows
    # schema evolution: reader-schema default filled (README.md:92-96)
    assert all(r["extra_field"] == "fishfingers and custard" for r in rows.values())


def test_asof_2014_01_01_update_only(spark, doctors_dir):
    # README.md:178-192 — only the epoch-effective UPDATE applies
    df = read_scd(spark, doctors_dir, as_of="2014-01-01", schema=json.dumps(READER_SCHEMA))
    rows = rows_by_name(df)
    assert len(rows) == 11
    assert rows["Troughton/Patrick"]["number"] == 12
    assert "Baker/Colin" in rows


def test_asof_now_update_and_delete(spark, doctors_dir):
    # README.md:153-165 — default (now) applies both statements
    df = read_scd(spark, doctors_dir, as_of=None, schema=json.dumps(READER_SCHEMA))
    rows = rows_by_name(df)
    assert len(rows) == 10
    assert rows["Troughton/Patrick"]["number"] == 12
    assert "Baker/Colin" not in rows
    assert "Baker/Tom" in rows  # only Colin deleted, not the other Baker


def test_asof_exact_boundary(spark, doctors_dir):
    # statement applies when effective == as_of (<=, SQLUpdater.java:130)
    df = read_scd(spark, doctors_dir, as_of=1409529600000, schema=json.dumps(READER_SCHEMA))
    assert df.count() == 10


def test_no_updates_file_passthrough(spark, tmp_path):
    # SQLUpdater.java:162-164 — no .updates ⇒ identity
    d = tmp_path / "plain"
    d.mkdir()
    shutil.copy(DOCTORS_AVRO, d / "doctors.avro")
    df = read_scd(spark, str(d), as_of=None)
    assert df.count() == 11
    assert set(df.columns) == {"number", "first_name", "last_name"}
