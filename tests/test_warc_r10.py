"""Round-10 WARC source work: conf byte-string parsing (ADVICE r9
medium), depth-k chain validation for realignment (ADVICE r9 low), and
byte-range splits for ``.warc.gz`` (VERDICT r9 task 2)."""

import gzip
import os

import pytest

from hive_scd_spark.fs import byte_string_as_bytes
from hive_scd_spark.sources.warc import (
    parse_warc_bytes,
    read_warc,
    write_warc_records,
)


def _mk_records(n, body=lambda i: f"body of record {i}".encode()):
    return [
        {
            "record_id": f"<urn:test:{i}>",
            "warc_type": "response",
            "target_uri": f"https://ex.com/{i}",
            "warc_date": "2024-01-01T00:00:00Z",
            "content_type": "application/http; msgtype=response",
            "payload": b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
            + body(i),
        }
        for i in range(n)
    ]


def _write(tmpdir, name, data):
    p = os.path.join(str(tmpdir), name)
    with open(p, "wb") as f:
        f.write(data)
    return p


# -- conf parsing (ADVICE r9 medium) ------------------------------------------


def test_byte_string_as_bytes_grammar():
    assert byte_string_as_bytes("134217728") == 128 << 20
    assert byte_string_as_bytes("128m") == 128 << 20
    assert byte_string_as_bytes("128M") == 128 << 20
    assert byte_string_as_bytes("128mb") == 128 << 20
    assert byte_string_as_bytes("1g") == 1 << 30
    assert byte_string_as_bytes("64kb") == 64 << 10
    assert byte_string_as_bytes(" 16K ") == 16 << 10
    assert byte_string_as_bytes("2t") == 2 << 40
    assert byte_string_as_bytes("7b") == 7
    for bad in ("", "m", "12.5m", "-1g", "1q", "0x10"):
        with pytest.raises(ValueError, match="byte-size"):
            byte_string_as_bytes(bad)


def test_read_warc_honors_suffixed_conf(spark, tmp_path):
    """A '128m'-style session conf must mean 128 MiB, not 128 bytes —
    the file below fits one split, so the plan stays 1 task per file."""
    p = _write(tmp_path, "conf.warc", write_warc_records(_mk_records(30)))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        df = read_warc(spark, p)
        assert df.rdd.getNumPartitions() == 1
        assert df.count() == 30
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


# -- depth-k chain validation (ADVICE r9 low #4) -------------------------------


def test_two_embedded_records_not_double_emitted(spark, tmp_path):
    """The exact ADVICE scenario: a payload embedding TWO consecutive
    well-formed WARC records (with trailing content after them).  The
    1-deep chain accepted the first embedded record (its terminator is
    followed by the second's version line) and the next split emitted
    both copies; the depth-3 chain walks past the second record, hits
    the trailing prose, and rejects the candidate."""
    inner = write_warc_records(
        [
            {
                "record_id": f"<urn:fake:{i}>",
                "warc_type": "resource",
                "content_type": "text/plain",
                "payload": f"embedded {i}".encode(),
            }
            for i in range(2)
        ]
    )
    recs = _mk_records(3) + [
        {
            "record_id": "<urn:test:quoter>",
            "warc_type": "resource",
            "content_type": "application/octet-stream",
            "payload": inner + b"trailing prose so the chain check fails",
        }
    ] + [
        {
            "record_id": f"<urn:test:tail{i}>",
            "warc_type": "resource",
            "payload": f"tail {i}".encode(),
        }
        for i in range(3)
    ]
    data = write_warc_records(recs)
    p = _write(tmp_path, "deep.warc", data)
    want = sorted(
        ["<urn:test:quoter>"]
        + [f"<urn:test:{i}>" for i in range(3)]
        + [f"<urn:test:tail{i}>" for i in range(3)]
    )
    # sweep splits so boundaries land inside the embedded records
    for split_bytes in list(range(48, len(data), 53)) + [1 << 20]:
        got = read_warc(spark, p, split_bytes=split_bytes).collect()
        ids = sorted(r.record_id for r in got)
        assert ids == want, split_bytes


def test_embedded_records_at_eof_not_double_emitted(spark, tmp_path):
    """Embedded complete records at the very end of the LAST record's
    payload: the chain from an embedded candidate ends at the outer
    terminator (not EOF, not a version line) and must reject."""
    inner = write_warc_records(
        [
            {
                "record_id": "<urn:fake:eof>",
                "warc_type": "resource",
                "payload": b"embedded at eof",
            }
        ]
    )
    recs = _mk_records(2) + [
        {
            "record_id": "<urn:test:last>",
            "warc_type": "resource",
            "payload": inner,  # embedded record flush with payload end
        }
    ]
    data = write_warc_records(recs)
    p = _write(tmp_path, "eof.warc", data)
    want = sorted(["<urn:test:0>", "<urn:test:1>", "<urn:test:last>"])
    for split_bytes in (64, 128, 200, len(data) - 20):
        got = read_warc(spark, p, split_bytes=split_bytes).collect()
        assert sorted(r.record_id for r in got) == want, split_bytes


# -- .warc.gz byte-range splits (VERDICT r9 task 2) ----------------------------


def test_gz_split_exactly_once_matches_whole_file(spark, tmp_path):
    """Per-record-gzip file read through byte-range splits: whatever
    compressed byte the boundary lands on, every record decodes exactly
    once and matches the single-task decode."""
    recs = _mk_records(60, body=lambda i: (f"doc {i} " * (3 + i % 11)).encode())
    data = write_warc_records(recs, compress=True)
    p = _write(tmp_path, "s.warc.gz", data)
    whole = sorted(
        (r.record_id, bytes(r.payload))
        for r in read_warc(spark, p, split_bytes=len(data) + 1).collect()
    )
    assert len(whole) == 60
    for split_bytes in (97, 256, 1024, len(data) // 7):
        df = read_warc(spark, p, split_bytes=split_bytes)
        assert df.rdd.getNumPartitions() > 1, split_bytes
        got = sorted(
            (r.record_id, bytes(r.payload)) for r in df.collect()
        )
        assert got == whole, split_bytes


def test_gz_split_fuzz_boundaries(spark, tmp_path):
    """Seeded fuzz: random payloads (including bytes that contain the
    gzip magic), random split sizes — exactly-once always."""
    import random

    rng = random.Random(1234)
    for trial in range(4):
        n = rng.randint(1, 30)
        recs = []
        for i in range(n):
            if rng.randrange(3) == 0:
                payload = b"\x1f\x8b\x08\x00junk" * rng.randint(1, 5)
            else:
                payload = bytes(
                    rng.randrange(256) for _ in range(rng.randint(0, 150))
                )
            recs.append(
                {
                    "record_id": f"<urn:g{trial}:{i}>",
                    "warc_type": "resource",
                    "content_type": "application/octet-stream",
                    "payload": payload,
                }
            )
        data = write_warc_records(recs, compress=True)
        p = _write(tmp_path, f"gz{trial}.warc.gz", data)
        split_bytes = rng.choice([1 + rng.randrange(len(data)), 128, 400])
        got = read_warc(spark, p, split_bytes=split_bytes).collect()
        ids = sorted(r.record_id for r in got)
        assert ids == sorted(f"<urn:g{trial}:{i}>" for i in range(n)), (
            trial,
            split_bytes,
        )
        by_id = {r.record_id: bytes(r.payload) for r in got}
        for i, rec in enumerate(recs):
            assert by_id[f"<urn:g{trial}:{i}>"] == rec["payload"], (trial, i)


def test_gz_whole_file_archive_degrades_to_one_task(spark, tmp_path):
    """A WHOLE-FILE-gzip archive (one member spanning everything — not
    the CommonCrawl layout): the member starts at offset 0, so the
    first split owns every record; interior splits find no chain-valid
    member inside compressed data and emit nothing.  Exactly-once, at
    file granularity — the documented honest fallback."""
    recs = _mk_records(25)
    plain = write_warc_records(recs)
    data = gzip.compress(plain)  # ONE member
    assert data.count(b"\x1f\x8b\x08") >= 1
    p = _write(tmp_path, "whole.warc.gz", data)
    for split_bytes in (64, 199, len(data) // 3):
        got = read_warc(spark, p, split_bytes=split_bytes).collect()
        ids = sorted(r.record_id for r in got)
        assert ids == sorted(f"<urn:test:{i}>" for i in range(25)), split_bytes


def test_gz_corrupt_tail_realigns_past_non_warc_member(spark, tmp_path):
    """Garbage between members containing a decodable gzip member whose
    bytes are NOT WARC records: the realignment scan decompresses it,
    fails the WARC parse, and moves on to the next true member."""
    a = write_warc_records(_mk_records(2), compress=True)
    fake = gzip.compress(b"not a warc record at all")
    b = write_warc_records(
        [
            {
                "record_id": "<urn:test:after-gap>",
                "warc_type": "resource",
                "payload": b"survivor",
            }
        ],
        compress=True,
    )
    # non-magic filler first so the sequential reader realigns rather
    # than hard-failing on a magic-aligned malformed member
    data = a + b"\x00GAP" + fake + b"\x00" + b
    p = _write(tmp_path, "gap.warc.gz", data)
    # one split owns the whole gap region: the sequential corrupt-tail
    # realignment skips the non-WARC member and resumes at the survivor
    got = read_warc(spark, p, split_bytes=len(data) - 10).collect()
    ids = sorted(r.record_id for r in got)
    assert ids == ["<urn:test:0>", "<urn:test:1>", "<urn:test:after-gap>"]
    # boundary adjacent to the gap: the realigning split may DROP up to
    # _CHAIN_DEPTH true members abutting the garbage (the documented
    # loss bound) but must never duplicate or surface the fake member
    got = read_warc(spark, p, split_bytes=max(64, len(a) // 2)).collect()
    ids = sorted(r.record_id for r in got)
    assert len(ids) == len(set(ids))
    assert "<urn:test:after-gap>" in ids
    assert set(ids) <= {"<urn:test:0>", "<urn:test:1>", "<urn:test:after-gap>"}


def test_gz_records_parity_with_uncompressed_splits(spark, tmp_path):
    """The same corpus through both split paths decodes identically."""
    recs = _mk_records(32, body=lambda i: bytes([i % 256]) * (i * 7 + 1))
    plain = _write(tmp_path, "p.warc", write_warc_records(recs))
    gz = _write(tmp_path, "p.warc.gz", write_warc_records(recs, compress=True))
    a = sorted(
        (r.record_id, bytes(r.payload))
        for r in read_warc(spark, plain, split_bytes=211).collect()
    )
    b = sorted(
        (r.record_id, bytes(r.payload))
        for r in read_warc(spark, gz, split_bytes=211).collect()
    )
    assert a == b and len(a) == 32


def test_parse_warc_bytes_still_strict():
    with pytest.raises(ValueError, match="Malformed"):
        parse_warc_bytes(b"WARC/1.0\r\nContent-Length: 3\r\n\r\nabc")  # no term
