"""Block-splittable Avro fallback: byte-range splits must decode every
block exactly once across all split boundaries (the Hadoop
block-belongs-to-the-split-containing-its-first-byte rule), and the
distributed read through read_avro must agree with the whole-file read
at any split size."""

from __future__ import annotations

import os

import pytest

from hive_scd_spark.fs import byte_string_as_bytes, max_partition_bytes
from hive_scd_spark.sources import avro_lite
from hive_scd_spark.sources.avro import read_avro

SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "val", "type": ["null", "double"], "default": None},
    ],
}


def _rows(n):
    return [
        {"id": i, "name": f"name-{i:04d}" * 3, "val": None if i % 7 == 0 else i / 4}
        for i in range(n)
    ]


@pytest.fixture(params=["null", "deflate", "snappy"])
def container(tmp_path, request):
    p = str(tmp_path / f"data-{request.param}.avro")
    rows = _rows(400)
    avro_lite.write_container(p, SCHEMA, rows, codec=request.param, rows_per_block=17)
    return p, rows


def _local_read_at(path):
    fh = open(path, "rb")

    def read_at(off, n):
        fh.seek(off)
        return fh.read(n)

    return read_at


def test_range_decode_covers_every_block_exactly_once(container):
    path, rows = container
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        head = fh.read(1 << 20)
    schema, codec, sync, header_len = avro_lite.read_header_info(head)
    read_at = _local_read_at(path)
    for split_bytes in (64, 257, 1000, size, size * 2):
        got = []
        start = 0
        while start < size:
            end = min(start + split_bytes, size)
            got.extend(
                avro_lite.read_container_range(
                    read_at, size, schema, codec, sync, header_len, start, end
                )
            )
            start = end
        assert got == rows, f"split_bytes={split_bytes}"


def test_range_decode_first_split_tiny(container):
    """Splits smaller than the header: only the split containing the
    header end decodes the first block."""
    path, rows = container
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        head = fh.read(1 << 20)
    schema, codec, sync, header_len = avro_lite.read_header_info(head)
    read_at = _local_read_at(path)
    got = []
    for start in range(0, size, 50):
        got.extend(
            avro_lite.read_container_range(
                read_at, size, schema, codec, sync, header_len, start, min(start + 50, size)
            )
        )
    assert got == rows


def test_read_avro_split_path_matches_whole_file(spark, tmp_path, avro_lite_only):
    rows = _rows(600)
    for i in range(3):
        avro_lite.write_container(
            str(tmp_path / f"part-{i}.avro"),
            SCHEMA,
            rows[i::3],
            codec="deflate",
            rows_per_block=23,
        )
    whole = read_avro(spark, str(tmp_path))  # files < default split size
    split = read_avro(spark, str(tmp_path), split_bytes=512)
    a = sorted((r.id, r.name, r.val) for r in whole.collect())
    b = sorted((r.id, r.name, r.val) for r in split.collect())
    assert a == b
    assert len(a) == 600
    # the split plan must actually fan out beyond one-task-per-file
    assert split.rdd.getNumPartitions() > 3


def test_read_avro_split_path_reader_schema_defaults(spark, tmp_path):
    """Schema evolution through the split path: reader adds a defaulted
    field (the reference's worked-example behavior)."""
    reader = {
        "type": "record",
        "name": "r",
        "fields": SCHEMA["fields"]
        + [{"name": "extra", "type": "string", "default": "fishfingers"}],
    }
    avro_lite.write_container(
        str(tmp_path / "d.avro"), SCHEMA, _rows(120), codec="null", rows_per_block=11
    )
    out = read_avro(spark, str(tmp_path / "d.avro"), reader_schema=reader, split_bytes=400)
    got = out.select("extra").distinct().collect()
    assert [r.extra for r in got] == ["fishfingers"]
    assert out.count() == 120


def test_scd_over_split_avro(spark, tmp_path, avro_lite_only):
    """read_scd end-to-end over a multi-split Avro dimension."""
    from hive_scd_spark.scd import read_scd

    d = tmp_path / "dim"
    d.mkdir()
    avro_lite.write_container(
        str(d / "data.avro"), SCHEMA, _rows(200), codec="deflate", rows_per_block=13
    )
    (d / ".updates").write_text(
        "UPDATE r SET name = upper(name) WHERE id < 10;\nDELETE FROM r WHERE id % 2 = 1;\n"
    )
    # force the split path via a session-level small maxPartitionBytes
    spark.conf.set("spark.sql.files.maxPartitionBytes", "700")
    try:
        out = read_scd(spark, str(d), format="avro")
        rows = {r.id: r.name for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    assert len(rows) == 100  # odd ids deleted
    assert rows[0].startswith("NAME-0000")
    assert rows[100].startswith("name-")


def test_split_size_conf_reads_jvm_byte_strings(spark, tmp_path):
    """The default split size follows the JVM byte-string grammar: a
    maxPartitionBytes of '1t' is a terabyte (one task for a small file),
    not one byte per split; an unknown suffix is an error."""
    p = str(tmp_path / "d.avro")
    avro_lite.write_container(p, SCHEMA, _rows(50), codec="null", rows_per_block=7)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1t")
        assert max_partition_bytes(spark) == 1 << 40
        df = read_avro(spark, p)
        assert df.rdd.getNumPartitions() == 1
        assert df.count() == 50
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    with pytest.raises(ValueError, match="byte-size"):
        byte_string_as_bytes("12x")


def test_read_avro_rejects_nonpositive_split_bytes(spark, tmp_path):
    p = str(tmp_path / "d.avro")
    avro_lite.write_container(p, SCHEMA, _rows(5), codec="null")
    with pytest.raises(ValueError, match="split_bytes must be positive"):
        read_avro(spark, p, split_bytes=0)
