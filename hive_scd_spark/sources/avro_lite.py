"""Minimal pure-Python Avro container-file reader/writer.

Covers exactly the reference's supported surface (SURVEY.md §1.2, from
the Avro→SQL map at ``AvroSCDInputFormat.java:156-178``): flat records
of ``boolean/int/long/float/double/string/bytes`` and 2-branch
``union[null, T]``, plus **reader-schema resolution with field
defaults** — the schema-evolution behavior the reference's worked
example exercises (``README.md:92-96``: on-disk 3 fields, reader schema
adds ``extra_field`` with a default).

Container format per the public Avro 1.x spec: header magic ``Obj\\x01``,
metadata map (``avro.schema`` JSON, ``avro.codec``), 16-byte sync
marker, then blocks of ``<count:long><size:long><data><sync>``.
Codecs: ``null``, ``deflate`` (the example file uses deflate), and
``snappy`` — via python-snappy when importable, else the pure-Python
codec in :mod:`hive_scd_spark.sources.snappy_lite` (r4; the Avro
4-byte big-endian CRC32-of-uncompressed suffix is verified on read
either way).

Where it runs: :mod:`hive_scd_spark.sources.avro` calls this decoder on
the executors (``mapInPandas``) only when neither spark-avro nor the
Hive ``AvroSerDe`` can take the read — single files, path lists, data
subdirectories, explicit byte-range splits, ``StructType`` reader
schemas — so it is the fallback, not the hot path.  The driver uses it
for header sniffing only; the writer serves tests and fixtures.  Large
columnar data should live in Parquet/ORC (the engine's ``read_scd`` is
format-agnostic; see ``README.md:254-258`` for the reference's own
"other formats" aspiration).
"""

from __future__ import annotations

import io
import json
import struct
import zlib

MAGIC = b"Obj\x01"


# -- binary primitives -------------------------------------------------------


def _read_long(buf: io.BytesIO) -> int:
    """Zigzag varint."""
    shift = 0
    accum = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("Unexpected EOF in varint")
        byte = b[0]
        accum |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (accum >> 1) ^ -(accum & 1)


def _write_long(out: io.BytesIO, value: int) -> None:
    value = (value << 1) ^ (value >> 63)
    while True:
        if value & ~0x7F:
            out.write(bytes([(value & 0x7F) | 0x80]))
            value >>= 7
        else:
            out.write(bytes([value]))
            break


def _read_bytes(buf: io.BytesIO) -> bytes:
    return buf.read(_read_long(buf))


def _skip_value(buf: io.BytesIO, schema) -> None:
    _decode_value(buf, schema)


def _decode_value(buf: io.BytesIO, schema):
    if isinstance(schema, list):  # union
        idx = _read_long(buf)
        return _decode_value(buf, schema[idx])
    if isinstance(schema, dict):
        stype = schema["type"]
        if stype == "record":
            return {
                f["name"]: _decode_value(buf, f["type"]) for f in schema["fields"]
            }
        if stype == "enum":
            return schema["symbols"][_read_long(buf)]
        if stype == "fixed":
            return buf.read(schema["size"])
        if stype == "array":
            out = []
            while True:
                n = _read_long(buf)
                if n == 0:
                    break
                if n < 0:
                    _read_long(buf)  # block byte size, unused
                    n = -n
                for _ in range(n):
                    out.append(_decode_value(buf, schema["items"]))
            return out
        if stype == "map":
            out = {}
            while True:
                n = _read_long(buf)
                if n == 0:
                    break
                if n < 0:
                    _read_long(buf)
                    n = -n
                for _ in range(n):
                    key = _read_bytes(buf).decode("utf-8")
                    out[key] = _decode_value(buf, schema["values"])
            return out
        return _decode_value(buf, stype)
    # primitive name
    if schema == "null":
        return None
    if schema == "boolean":
        return buf.read(1) != b"\x00"
    if schema in ("int", "long"):
        return _read_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "string":
        return _read_bytes(buf).decode("utf-8")
    if schema == "bytes":
        return _read_bytes(buf)
    raise NotImplementedError(f"Avro type not supported by avro_lite: {schema!r}")


# -- container file ----------------------------------------------------------


def _read_header(buf: io.BytesIO):
    if buf.read(4) != MAGIC:
        raise ValueError("Not an Avro container file (bad magic)")
    meta = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:
            _read_long(buf)
            n = -n
        for _ in range(n):
            key = _read_bytes(buf).decode("utf-8")
            meta[key] = _read_bytes(buf)
    sync = buf.read(16)
    return meta, sync


def read_container(path: str) -> tuple[dict, list[dict]]:
    """Read one Avro container file → (writer_schema, rows-as-dicts)."""
    with open(path, "rb") as fh:
        data = fh.read()
    return read_container_bytes(data)


def read_header_info(data: bytes) -> tuple[dict, str, bytes, int]:
    """Parse a container header → (writer_schema, codec, sync_marker,
    header_length).  The metadata-sized unit of per-file driver work
    for split planning (the same class of read the reference's
    InputFormat does per split, ``AvroSCDInputFormat.java:51-59``)."""
    buf = io.BytesIO(data)
    meta, sync = _read_header(buf)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema, codec, sync, buf.tell()


def _snappy_decompress(block: bytes) -> bytes:
    """Avro snappy block: snappy(data) + 4-byte big-endian CRC32 of the
    UNCOMPRESSED data (Avro spec §codecs).  Uses python-snappy when
    importable, else the pure-Python decoder (snappy_lite)."""
    payload, crc = block[:-4], block[-4:]
    try:
        import snappy  # optional C binding — faster when present

        out = snappy.decompress(payload)
    except ImportError:
        from hive_scd_spark.sources import snappy_lite

        out = snappy_lite.decompress(payload)
    if (zlib.crc32(out) & 0xFFFFFFFF) != int.from_bytes(crc, "big"):
        raise ValueError("Avro snappy block CRC mismatch")
    return out


def _decompress_block(block: bytes, codec: str) -> bytes:
    if codec == "deflate":
        return zlib.decompress(block, -15)
    if codec == "snappy":
        return _snappy_decompress(block)
    if codec != "null":
        raise NotImplementedError(f"Avro codec not supported: {codec}")
    return block


def read_container_range(
    read_at,
    file_size: int,
    writer_schema: dict,
    codec: str,
    sync: bytes,
    header_len: int,
    start: int,
    end: int,
) -> list[dict]:
    """Decode the blocks of ONE byte-range split of a container file.

    Hadoop split semantics: a block belongs to the split containing its
    FIRST byte, so this decodes every block whose start offset lies in
    ``[start, end)`` — the first split (start ≤ header) begins at the
    first block, later splits scan forward for the first sync marker
    ending at/after *start*.  ``read_at(offset, nbytes) -> bytes`` is
    the only I/O primitive needed (positional read; executors hand in a
    pyarrow ``read_at`` or a local-file pread).

    The terminal block of a split may extend past *end* — it is read to
    completion (its bytes simply overlap the next split, which skips it
    because its start offset is < that split's start)."""
    rows: list[dict] = []
    if start <= header_len:
        pos = header_len
    else:
        # find the first block boundary (= sync END) at/after start; the
        # marker may straddle the split edge, so the scan window begins
        # 16 bytes early.  Sync markers are 16 random bytes — a data
        # collision is 2^-128 and would fail loudly at the sync check.
        win_start = max(header_len, start - len(sync))
        window = read_at(win_start, min(end, file_size) - win_start + len(sync))
        pos = None
        k = window.find(sync)
        while k != -1:
            cand = win_start + k + len(sync)
            if cand >= start:
                pos = cand
                break
            k = window.find(sync, k + 1)
        if pos is None or pos >= min(end, file_size):
            return rows  # no block begins inside this split
    while pos < min(end, file_size):
        head = read_at(pos, 20)  # two zigzag varints ≤ 10 bytes each
        if not head:
            break
        hbuf = io.BytesIO(head)
        count = _read_long(hbuf)
        size = _read_long(hbuf)
        consumed = hbuf.tell()
        block = _decompress_block(read_at(pos + consumed, size), codec)
        bbuf = io.BytesIO(block)
        for _ in range(count):
            rows.append(_decode_value(bbuf, writer_schema))
        if read_at(pos + consumed + size, len(sync)) != sync:
            raise ValueError("Avro sync marker mismatch")
        pos = pos + consumed + size + len(sync)
    return rows


def read_container_bytes(data: bytes) -> tuple[dict, list[dict]]:
    """Decode an in-memory Avro container → (writer_schema, rows).
    The executor-side unit of the distributed read path
    (binaryFile + mapInPandas in sources/avro.py)."""
    buf = io.BytesIO(data)
    meta, sync = _read_header(buf)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    rows: list[dict] = []
    while buf.tell() < len(data):
        count = _read_long(buf)
        size = _read_long(buf)
        block = buf.read(size)
        block = _decompress_block(block, codec)
        bbuf = io.BytesIO(block)
        for _ in range(count):
            rows.append(_decode_value(bbuf, schema))
        if buf.read(16) != sync:
            raise ValueError("Avro sync marker mismatch")
    return schema, rows


# -- reader-schema resolution (schema evolution) -----------------------------


def resolve_rows(rows: list[dict], reader_schema: dict) -> list[dict]:
    """Apply reader-schema resolution by field name with defaults —
    the evolution path the reference relies on
    (``AvroSCDInputFormat.java:141-154``, ``README.md:92-96``).
    Fields present on disk but absent from the reader schema are dropped;
    reader-only fields take their ``default`` (required here, per spec).
    """
    fields = reader_schema["fields"]
    out = []
    for row in rows:
        resolved = {}
        for f in fields:
            name = f["name"]
            if name in row:
                resolved[name] = row[name]
            elif "default" in f:
                resolved[name] = f["default"]
            else:
                raise ValueError(
                    f"Reader field {name!r} missing from data and has no default"
                )
        out.append(resolved)
    return out


def avro_type_to_spark(avro_type):
    """Avro → Spark type per the reference's map
    (``AvroSCDInputFormat.java:156-178``), widened with bytes."""
    from pyspark.sql import types as T

    if isinstance(avro_type, list):  # union[null, T] — 2-branch only, like the ref
        non_null = [t for t in avro_type if t != "null"]
        if len(non_null) != 1:
            raise NotImplementedError(f"Only union[null, T] supported: {avro_type!r}")
        return avro_type_to_spark(non_null[0])
    if isinstance(avro_type, dict):
        return avro_type_to_spark(avro_type["type"])
    mapping = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "bytes": T.BinaryType(),
    }
    if avro_type not in mapping:
        raise NotImplementedError(f"Avro type not supported: {avro_type!r}")
    return mapping[avro_type]


def schema_to_struct(avro_schema: dict):
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(
                f["name"],
                avro_type_to_spark(f["type"]),
                nullable=isinstance(f["type"], list) and "null" in f["type"],
            )
            for f in avro_schema["fields"]
        ]
    )


# -- writer (tests/fixtures only) --------------------------------------------


def _encode_value(out: io.BytesIO, schema, value) -> None:
    if isinstance(schema, list):
        idx = schema.index("null") if value is None else next(
            i for i, t in enumerate(schema) if t != "null"
        )
        _write_long(out, idx)
        _encode_value(out, schema[idx], value)
        return
    if isinstance(schema, dict):
        if schema["type"] == "record":
            for f in schema["fields"]:
                _encode_value(out, f["type"], value[f["name"]])
            return
        return _encode_value(out, schema["type"], value)
    if schema == "null":
        return
    if schema == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif schema in ("int", "long"):
        _write_long(out, int(value))
    elif schema == "float":
        out.write(struct.pack("<f", value))
    elif schema == "double":
        out.write(struct.pack("<d", value))
    elif schema == "string":
        raw = value.encode("utf-8")
        _write_long(out, len(raw))
        out.write(raw)
    elif schema == "bytes":
        _write_long(out, len(value))
        out.write(value)
    else:
        raise NotImplementedError(f"Avro type not supported: {schema!r}")


def write_container(
    path: str,
    schema: dict,
    rows: list[dict],
    codec: str = "null",
    rows_per_block: int | None = None,
):
    """Write a container file (used by tests to build fixtures).
    *rows_per_block* splits the data into multiple sync-delimited blocks
    — required for testing the block-splittable read path."""
    sync = b"\x00" * 8 + b"avrolite"  # any 16 bytes
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    _write_long(out, len(meta))
    for k, v in meta.items():
        raw = k.encode()
        _write_long(out, len(raw))
        out.write(raw)
        _write_long(out, len(v))
        out.write(v)
    _write_long(out, 0)
    out.write(sync)
    step = rows_per_block or max(len(rows), 1)
    for i in range(0, max(len(rows), 1), step):
        chunk = rows[i : i + step]
        if not chunk:
            break
        body = io.BytesIO()
        for row in chunk:
            _encode_value(body, schema, row)
        block = body.getvalue()
        if codec == "deflate":
            compressor = zlib.compressobj(9, zlib.DEFLATED, -15)
            block = compressor.compress(block) + compressor.flush()
        elif codec == "snappy":
            crc = zlib.crc32(block) & 0xFFFFFFFF
            try:
                import snappy  # optional C binding

                payload = snappy.compress(block)
            except ImportError:
                from hive_scd_spark.sources import snappy_lite

                payload = snappy_lite.compress(block)
            block = payload + crc.to_bytes(4, "big")
        elif codec != "null":
            raise NotImplementedError(f"Avro codec not supported: {codec}")
        _write_long(out, len(chunk))
        _write_long(out, len(block))
        out.write(block)
        out.write(sync)
    with open(path, "wb") as fh:
        fh.write(out.getvalue())
