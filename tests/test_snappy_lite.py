"""Pure-Python snappy codec (sources/snappy_lite.py) against the public
format description — hand-crafted tag streams, round trips, and the
Avro container integration incl. CRC verification."""

import os
import random
import zlib

import pytest

from hive_scd_spark.sources import avro_lite, snappy_lite


# ---------- decoder vs hand-crafted spec streams ----------


def test_literal_then_copy1_overlapping():
    # output "abababab": literal "ab", then copy len=6 offset=2 —
    # overlapping copy, the canonical run encoding from the spec
    stream = bytes([8, (2 - 1) << 2]) + b"ab" + bytes([(0 << 5) | ((6 - 4) << 2) | 1, 2])
    assert snappy_lite.decompress(stream) == b"abababab"


def test_copy2_nonoverlapping():
    lit = bytes(range(10))
    stream = (
        bytes([20, (10 - 1) << 2])
        + lit
        + bytes([((10 - 1) << 2) | 2])
        + (10).to_bytes(2, "little")
    )
    assert snappy_lite.decompress(stream) == lit + lit


def test_copy4_offset():
    lit = b"x" * 5
    stream = (
        bytes([10, (5 - 1) << 2])
        + lit
        + bytes([((5 - 1) << 2) | 3])
        + (5).to_bytes(4, "little")
    )
    assert snappy_lite.decompress(stream) == lit + lit


def test_extended_literal_length():
    # 200-byte literal: needs the tag-60 one-extra-byte length form
    body = os.urandom(200)
    stream = bytes([0xC8, 0x01, 60 << 2, 200 - 1]) + body
    assert snappy_lite.decompress(stream) == body


@pytest.mark.parametrize(
    "bad",
    [
        b"",  # no preamble
        bytes([4, (0 << 5) | (0 << 2) | 1, 1]),  # copy before any output
        bytes([4, (3 << 2)]) + b"ab",  # truncated literal
        bytes([1, 0, b"a"[0], 0, 0]),  # wrong preamble vs output
    ],
)
def test_malformed_streams_raise(bad):
    with pytest.raises(snappy_lite.SnappyError):
        snappy_lite.decompress(bad)


def test_offset_zero_rejected():
    stream = bytes([8, (4 - 1) << 2]) + b"abcd" + bytes([((4 - 4) << 2) | 1, 0])
    with pytest.raises(snappy_lite.SnappyError, match="offset"):
        snappy_lite.decompress(stream)


@pytest.mark.parametrize(
    "payload",
    [b"", b"a", b"hello world", bytes(range(256)) * 10, random.Random(0).randbytes(70000)],
)
def test_compress_roundtrip(payload):
    assert snappy_lite.decompress(snappy_lite.compress(payload)) == payload


def test_c_library_interop_if_present():
    try:
        import snappy  # noqa: F401
    except ImportError:
        pytest.skip("python-snappy not installed")
    payload = b"the quick brown fox " * 100
    assert snappy.decompress(snappy_lite.compress(payload)) == payload
    assert snappy_lite.decompress(snappy.compress(payload)) == payload


# ---------- Avro container integration ----------

SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"], "default": None},
    ],
}


def _rows(n):
    return [{"id": i, "name": f"row-{i}" if i % 3 else None} for i in range(n)]


def test_avro_snappy_container_roundtrip(tmp_path):
    path = str(tmp_path / "t.avro")
    rows = _rows(200)
    avro_lite.write_container(path, SCHEMA, rows, codec="snappy", rows_per_block=37)
    schema, got = avro_lite.read_container(path)
    assert got == rows


def test_avro_snappy_crc_mismatch_raises(tmp_path):
    path = str(tmp_path / "t.avro")
    avro_lite.write_container(path, SCHEMA, _rows(50), codec="snappy")
    raw = bytearray(open(path, "rb").read())
    # flip one bit in the last CRC suffix (4 bytes before the final sync)
    raw[-17] ^= 0x01
    open(path, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="CRC"):
        avro_lite.read_container(path)


# ---------- real compression (round-5: back-references, not all-literal) ----------


@pytest.mark.parametrize(
    "payload,min_ratio",
    [
        # the format caps one copy element at 64 bytes (3-byte copy-2),
        # so ~21x is the ceiling for runs — same as the C implementation
        (b"a" * 100_000, 18.0),           # pure run → literal + overlapping copies
        (b"the quick brown fox " * 5000, 15.0),  # periodic text
        ((bytes(range(256)) * 16) * 32, 8.0),    # long-period repetition
    ],
)
def test_compress_actually_compresses(payload, min_ratio):
    comp = snappy_lite.compress(payload)
    assert snappy_lite.decompress(comp) == payload
    assert len(payload) / len(comp) >= min_ratio, (len(payload), len(comp))


def test_compress_incompressible_bounded_overhead():
    payload = os.urandom(100_000)
    comp = snappy_lite.compress(payload)
    assert snappy_lite.decompress(comp) == payload
    # spec guarantees literals cost ≤ ~6 bytes per 2^32 run; random data
    # may hit spurious 4-byte hash matches, so allow a small margin
    assert len(comp) <= len(payload) * 1.01 + 16


def test_compress_mixed_content_roundtrip():
    rng = os.urandom(997)
    payload = b"".join(
        [rng, b"header" * 200, rng[:313], b"\x00" * 4096, rng, b"tail" * 77]
    )
    comp = snappy_lite.compress(payload)
    assert snappy_lite.decompress(comp) == payload
    assert len(comp) < len(payload)


@pytest.mark.parametrize("n", [0, 1, 2, 3, 4, 5, 63, 64, 65, 67, 68, 69, 131, 132])
def test_compress_boundary_lengths_of_runs(n):
    # exercises the copy chunking boundaries (64/68 splits, <4 remainders)
    payload = b"ab" + b"x" * n + b"ab" + b"x" * n
    assert snappy_lite.decompress(snappy_lite.compress(payload)) == payload


# ---------- hypothesis fuzz: compressor round-trip over adversarial bytes ----------

from hypothesis import given, settings
from hypothesis import strategies as st

# mixes of runs, repeated motifs, and random bytes — the shapes that
# exercise literal/copy boundaries and overlapping-copy encoding
_chunk = st.one_of(
    st.binary(min_size=0, max_size=200),
    st.builds(lambda b, n: b * n, st.binary(min_size=1, max_size=8), st.integers(1, 300)),
    st.builds(lambda b: b, st.sampled_from([b"", b"\x00" * 1000, b"ab" * 500])),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_chunk, min_size=0, max_size=8))
def test_compress_roundtrip_fuzz(chunks):
    payload = b"".join(chunks)
    assert snappy_lite.decompress(snappy_lite.compress(payload)) == payload
