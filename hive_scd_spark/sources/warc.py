"""WARC crawl-archive source (pure-Python, distributed, splittable).

WARC (ISO 28500, the public Web ARChive spec) is the input format of
web-scale text pipelines — CommonCrawl publishes ~100 TB crawls as WARC
— so an engine that starts at "documents in parquet" is missing the
pipeline's actual first mile.  This module reads WARC the way
:mod:`hive_scd_spark.sources.avro` reads Avro without the native jar:

- **uncompressed** ``.warc`` files larger than *split_bytes* are decoded
  as BYTE-RANGE splits — each task positional-reads only its range and
  owns the records whose header starts inside it.  WARC has no sync
  marker, so split realignment scans for a ``WARC/1.x`` version line
  and **chain-validates** the candidate: headers must parse, the
  declared ``Content-Length`` must land the cursor on the ``\\r\\n\\r\\n``
  record terminator, and the byte after it must begin EOF or another
  well-formed record header.  A payload that embeds fake WARC bytes
  (an HTML page QUOTING a WARC file) fails the chain and the scan moves
  on — see ``tests/test_warc_r9.py`` for the adversarial case.
- **per-record-gzip** ``.warc.gz`` files (the CommonCrawl convention:
  one gzip member per record) larger than *split_bytes* are ALSO
  byte-range split: each task scans its range for the gzip deflate
  magic and **chain-validates** the candidate member — it must
  decompress cleanly, its bytes must parse as complete WARC records,
  and successive members must do the same (``_CHAIN_DEPTH`` deep, EOF
  short-circuits).  A false magic hit inside compressed data dies in
  zlib within a few bytes; an embedded fake member fails the WARC or
  chain check.  A WHOLE-FILE-gzip archive degrades gracefully to
  file-granular: its single member starts at offset 0, so the first
  split owns every record and interior splits find no chain-valid
  member and emit nothing — and the alignment scan is BOUNDED by the
  split end (r11, ADVICE r10), so a fruitless interior split reads
  ~its own range once, never start-to-EOF.  Decode loops also trim the
  consumed window prefix, so per-task memory is O(record), not
  O(range).  For crawls that actually SHIP as whole-file gzip,
  :func:`reshard_warc_gz` is the documented pre-pass: one streaming
  linear pass per archive (parallel across archives) rewrites the drop
  as per-record-gzip members, after which every read byte-range
  splits.

Record payloads stay opaque ``binary`` (the multimodal-column
convention); for ``response`` records the HTTP envelope is additionally
parsed (status, Content-Type, body) so the common "give me the page
bytes" path needs no downstream HTTP parsing.  All decode work runs
executor-side in Arrow-batched ``mapInPandas``; the driver touches
file LISTINGS only (names + sizes — the avro round-3 lesson: no
per-file driver reads during planning).
"""

from __future__ import annotations

import gzip
import hashlib
import io
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hive_scd_spark.fs import fs_for, max_partition_bytes

WARC_SCHEMA = T.StructType(
    [
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

_COLS = [f.name for f in WARC_SCHEMA.fields]

_VERSIONS = (b"WARC/1.0\r\n", b"WARC/1.1\r\n")
# how far past a split end a terminal record may reasonably run; a
# single ensure() step, grown geometrically while a record overflows
_CHUNK = 1 << 20
# realignment accepts a candidate only after this many records parse
# and chain from it (or EOF arrives first).  Residual limit (ADVICE
# r9): an embedded record whose own terminator IS the outer record's
# terminator chains seamlessly into the real stream, so NO finite
# depth rejects it — depth-k closes the quoted-WARC-with-trailing-
# content class (k or fewer complete embedded records followed by
# anything) but terminator-aliased embeds remain; a sync-marker-free
# format cannot distinguish them from real records by local scan.
# Loss bound: a REALIGNING split (interior start or corrupt tail) may
# drop up to _CHAIN_DEPTH true records abutting a corrupt gap (their
# chains end in the garbage) — under-emission near corruption is
# preferred to adversarial double-emission; file offset 0 is trusted
# and never subject to this.
_CHAIN_DEPTH = 3
# gzip member header: magic + the only CM the spec defines (deflate)
_GZ_MAGIC = b"\x1f\x8b\x08"

# -- record-level parse (shared by every path) --------------------------------


def _parse_headers(data: bytes, pos: int):
    """Parse a WARC header block starting at *pos* (which must point at
    a version line).  Returns (headers dict lower-cased, body_start) or
    None if *data* does not hold a well-formed header block there."""
    if not data.startswith(_VERSIONS, pos):
        return None
    cur = data.index(b"\r\n", pos) + 2
    headers: dict[str, str] = {}
    for _ in range(256):  # header-count bound: reject pathological blocks
        end = data.find(b"\r\n", cur)
        if end < 0:
            return None
        line = data[cur:end]
        cur = end + 2
        if line == b"":
            if "content-length" not in headers:
                return None
            return headers, cur
        colon = line.find(b":")
        if colon <= 0:
            return None
        try:
            key = line[:colon].decode("ascii").strip().lower()
            headers[key] = line[colon + 1 :].decode("utf-8", "replace").strip()
        except UnicodeDecodeError:
            return None
    return None


def _parse_record(data: bytes, pos: int):
    """One full record at *pos*: returns (record dict, next_pos) or
    None.  next_pos points past the ``\\r\\n\\r\\n`` terminator."""
    parsed = _parse_headers(data, pos)
    if parsed is None:
        return None
    headers, body_start = parsed
    try:
        length = int(headers["content-length"])
    except ValueError:
        return None
    if length < 0 or body_start + length + 4 > len(data):
        return None
    if data[body_start + length : body_start + length + 4] != b"\r\n\r\n":
        return None
    block = data[body_start : body_start + length]
    rec = {
        "record_id": headers.get("warc-record-id"),
        "warc_type": headers.get("warc-type"),
        "target_uri": headers.get("warc-target-uri"),
        "warc_date": headers.get("warc-date"),
        "content_type": headers.get("content-type"),
        "content_length": length,
        "http_status": None,
        "http_content_type": None,
        "payload": block,
    }
    if rec["warc_type"] == "response" and block.startswith(b"HTTP/"):
        head_end = block.find(b"\r\n\r\n")
        if head_end >= 0:
            head = block[:head_end].decode("latin-1").split("\r\n")
            parts = head[0].split(None, 2)
            if len(parts) >= 2 and parts[1].isdigit():
                rec["http_status"] = int(parts[1])
            for line in head[1:]:
                k, _, v = line.partition(":")
                if k.strip().lower() == "content-type":
                    rec["http_content_type"] = v.strip()
                    break
            rec["payload"] = block[head_end + 4 :]
    return rec, body_start + length + 4


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Decode a whole uncompressed WARC byte string (fixture/test and
    gzip-member path).  Strict: malformed framing raises."""
    out = []
    pos = 0
    while pos < len(data):
        r = _parse_record(data, pos)
        if r is None:
            raise ValueError(f"Malformed WARC record at offset {pos}")
        rec, pos = r
        out.append(rec)
    return out


def _parse_gzip_file(data: bytes) -> list[dict]:
    """Decode a ``.warc.gz`` byte string: GzipFile transparently
    concatenates members, so per-record-gzip (the CommonCrawl layout)
    and whole-file-gzip both reduce to one sequential decode."""
    with gzip.GzipFile(fileobj=io.BytesIO(data)) as f:
        return parse_warc_bytes(f.read())


# -- split realignment ---------------------------------------------------------


class _Window:
    """A growable positional-read window over one file: bytes
    [base, base+len(buf)) are in memory; ``ensure`` extends the right
    edge.  *base* sits 4 bytes BEFORE the split start (when start > 0)
    so a record header at exactly ``start`` can still be validated
    against its preceding ``\\r\\n\\r\\n`` terminator."""

    def __init__(self, f, start: int, end: int, size: int):
        self.f = f
        self.size = size
        self.base = max(0, start - 4)
        self.buf = f.read_at(min(end + _CHUNK, size) - self.base, self.base)

    def ensure(self, upto: int) -> bool:
        """Grow the window to file offset *upto* (clamped to EOF);
        True if new bytes arrived."""
        have = self.base + len(self.buf)
        if upto <= have or have >= self.size:
            return False
        n = min(max(upto - have, _CHUNK), self.size - have)
        self.buf += self.f.read_at(n, have)
        return True

    def parse_record_at(self, off: int):
        """_parse_record at file offset *off*, growing the window while
        the record overflows it.  None = malformed (never short)."""
        while True:
            got = _parse_record(self.buf, off - self.base)
            if got is not None:
                rec, nxt_rel = got
                return rec, self.base + nxt_rel
            if not self.ensure(self.base + len(self.buf) + _CHUNK):
                return None

    def trim(self, keep_from: int) -> None:
        """Drop buffered bytes before file offset ``keep_from - 4``
        (the 4-byte slack keeps terminator look-behind valid).  The
        decode loops call this as their cursor advances so a split
        holds O(record) memory, not O(range) (ADVICE r10).  Amortized:
        only trims once a full ``_CHUNK`` of prefix is dead, so the
        copy cost is O(bytes read), not O(records * range)."""
        cut = keep_from - 4 - self.base
        if cut >= _CHUNK:
            self.buf = self.buf[cut:]
            self.base += cut

    def next_record_at(self, from_off: int, stop: int | None = None):
        """First CHAIN-VALID record header at file offset ≥ *from_off*:
        the candidate must start the file or follow a record
        terminator, and ``_CHAIN_DEPTH`` successive records must
        parse-and-chain from it (each Content-Length landing on its
        ``\\r\\n\\r\\n``, each terminator followed by EOF or another
        version line).  A payload embedding fake WARC bytes — even one
        quoting a couple of complete records back-to-back — fails the
        chain and the scan moves on (_CHAIN_DEPTH documents the
        residual limit).  *stop* bounds the SCAN: callers discard
        candidates starting at offset ≥ *stop* (the ``pos < end`` loop),
        so the search ends there instead of buffering to EOF — without
        it, a garbage-filled split of a large file reads and HOLDS
        everything from its start to EOF (ADVICE r10, the gzip twin of
        which was the flagged OOM path).  Returns a file offset or
        None."""
        search = from_off - self.base
        while True:
            idx = self.buf.find(b"WARC/1.", search)
            if idx >= 0 and stop is not None and self.base + idx >= stop:
                return None
            if idx < 0:
                if stop is not None and self.base + len(self.buf) >= stop + 7:
                    # every candidate start < stop is already in-buffer
                    # (the 7-byte find pattern fits); nothing useful lies
                    # further right
                    return None
                # a version string may straddle the window's right edge:
                # resume just before the PRE-growth edge (capture the
                # length first — the post-growth length would skip the
                # straddling region entirely)
                old_len = len(self.buf)
                if self.ensure(self.base + old_len + _CHUNK):
                    search = max(search, old_len - 16)
                    continue
                return None
            if idx + 10 > len(self.buf):
                self.ensure(self.base + idx + 64)
            aligned = self.buf.startswith(_VERSIONS, idx) and (
                self.base + idx == 0
                or (idx >= 4 and self.buf[idx - 4 : idx] == b"\r\n\r\n")
            )
            if aligned and self._chain_valid(self.base + idx):
                return self.base + idx
            search = idx + 1

    def _chain_valid(self, off: int) -> bool:
        """True when ``_CHAIN_DEPTH`` records parse-and-chain starting
        at file offset *off* (EOF short-circuits the walk; the window
        grows at most that many records past the split end)."""
        probe = off
        for _ in range(_CHAIN_DEPTH):
            got = self.parse_record_at(probe)
            if got is None:
                return False
            _, probe = got
            self.ensure(probe + 16)
            if probe >= self.size:
                return True
            if not self.buf.startswith(_VERSIONS, probe - self.base):
                return False
        return True


# -- gzip member realignment (the .warc.gz split path) ------------------------


def _gz_member_at(win: _Window, off: int):
    """Decompress the gzip member starting at file offset *off*,
    growing the window while the member overflows it.  Returns
    (decompressed bytes, next_member_off) or None when zlib rejects the
    stream or EOF arrives mid-member — a false ``\\x1f\\x8b\\x08`` hit
    inside compressed data dies here within a few bytes."""
    import zlib

    d = zlib.decompressobj(31)
    out = []
    cur = off
    while True:
        win.ensure(cur + _CHUNK)
        chunk = win.buf[cur - win.base : cur - win.base + _CHUNK]
        if not chunk:
            return None
        try:
            out.append(d.decompress(chunk))
        except zlib.error:
            return None
        if d.eof:
            consumed = len(chunk) - len(d.unused_data)
            return b"".join(out), cur + consumed
        cur += len(chunk)


def _gz_records_at(win: _Window, off: int):
    """The gzip member at *off* decoded to WARC records: returns
    (records list, next_member_off) or None when the member is not a
    clean gzip stream or its bytes are not complete WARC records — the
    validation idiom of the uncompressed path (warc.py realignment),
    applied at member granularity."""
    got = _gz_member_at(win, off)
    if got is None:
        return None
    data, nxt = got
    try:
        return parse_warc_bytes(data), nxt
    except ValueError:
        return None


def _next_gz_member_at(win: _Window, from_off: int, stop: int | None = None):
    """First CHAIN-VALID gzip member start at file offset ≥ *from_off*:
    the candidate must begin with the gzip deflate magic, decompress
    cleanly to complete WARC records, and ``_CHAIN_DEPTH`` successive
    members must do the same (EOF short-circuits).  Same residual limit
    as the uncompressed chain: a payload embedding that many complete
    members, terminator-aligned, can still fool the scan.

    *stop* bounds the SCAN (ADVICE r10 — the medium finding): callers
    discard member starts at offset ≥ *stop* (their ``pos < end``
    loop), so the search must end there too.  Without the bound, every
    interior split of a WHOLE-FILE-gzip archive (which has no interior
    member starts at all) scanned from its start to EOF, reading and
    buffering O(filesize) bytes per split — N splits did
    ~N·filesize/2 total IO and each concurrently held up to the whole
    file tail.  With it, a fruitless split reads at most its own range
    plus one chunk and emits nothing — the graceful degrade the module
    docstring promises."""
    search = from_off - win.base
    while True:
        idx = win.buf.find(_GZ_MAGIC, search)
        if idx >= 0 and stop is not None and win.base + idx >= stop:
            return None
        if idx < 0:
            if stop is not None and win.base + len(win.buf) >= stop + 2:
                # buffer already covers every possible start < stop
                # (3-byte magic starting at stop-1 ends at stop+1)
                return None
            old_len = len(win.buf)
            if win.ensure(win.base + old_len + _CHUNK):
                search = max(search, old_len - 2)
                continue
            return None
        probe, ok = win.base + idx, True
        for _ in range(_CHAIN_DEPTH):
            got = _gz_records_at(win, probe)
            if got is None:
                ok = False
                break
            _, probe = got
            win.ensure(probe + 3)
            if probe >= win.size:
                break
            if not win.buf.startswith(_GZ_MAGIC, probe - win.base):
                ok = False
                break
        if ok:
            return win.base + idx
        search = idx + 1


def _decode_split_partition(out_cols: list[str]):
    """Executor-side decoder: each input row is one byte-range split
    (path, start, end, file_size, codec).  Positional reads only; the
    window grows in ``_CHUNK`` steps while the terminal record
    overflows the range — no whole-file materialization on the split
    path."""

    def fn(batches: Iterator) -> Iterator:
        import pandas as pd
        import pyarrow.fs as pafs

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                if "://" in r.path or r.path.startswith("file:"):
                    fs, fpath = pafs.FileSystem.from_uri(r.path)
                else:
                    fs, fpath = pafs.LocalFileSystem(), r.path
                size = int(r.file_size)
                rows: list[dict] = []
                with fs.open_input_file(fpath) as f:
                    if r.codec == "gzip":
                        rows = _parse_gzip_file(f.read_at(size, 0))
                    elif r.codec == "gzip-split":
                        start, end = int(r.start), int(r.end)
                        win = _Window(f, start, end, size)
                        # file offset 0 is a trusted member start (the
                        # sequential reader raises if it is not) — only
                        # interior splits need realignment evidence,
                        # else a corrupt gap within _CHAIN_DEPTH of the
                        # file start would reject true leading members
                        pos = (
                            0
                            if start == 0
                            else _next_gz_member_at(win, start, stop=end)
                        )
                        while pos is not None and pos < end:
                            got = _gz_records_at(win, pos)
                            if got is None:
                                raise ValueError(
                                    f"Malformed gzip WARC member at {fpath}:{pos}"
                                )
                            recs, nxt = got
                            rows.extend(recs)
                            if nxt >= size:
                                break
                            win.ensure(nxt + 3)
                            if win.buf.startswith(_GZ_MAGIC, nxt - win.base):
                                pos = nxt
                            else:
                                # corrupt tail: realign to the next
                                # chain-valid member (the uncompressed
                                # path's policy, member-granular)
                                pos = _next_gz_member_at(win, nxt, stop=end)
                            win.trim(pos if pos is not None else nxt)
                    else:
                        start, end = int(r.start), int(r.end)
                        win = _Window(f, start, end, size)
                        # offset 0 is trusted (strict parse below); the
                        # chain scan is for interior starts only
                        pos = (
                            0
                            if start == 0
                            else win.next_record_at(start, stop=end)
                        )
                        while pos is not None and pos < end:
                            got = win.parse_record_at(pos)
                            if got is None:
                                raise ValueError(
                                    f"Malformed WARC record at {fpath}:{pos}"
                                )
                            rec, nxt = got
                            rows.append(rec)
                            if nxt >= size:
                                break
                            win.ensure(nxt + 16)
                            if win.buf.startswith(_VERSIONS, nxt - win.base):
                                pos = nxt
                            else:
                                # corrupt tail: realign loudly-or-skip is
                                # a policy choice — we realign (the next
                                # split would otherwise double-read) but
                                # only to a chain-valid header
                                pos = win.next_record_at(nxt, stop=end)
                            win.trim(pos if pos is not None else nxt)
                yield pd.DataFrame(
                    [[row.get(c) for c in out_cols] for row in rows],
                    columns=out_cols,
                    dtype=object,
                )

    return fn


_SPLIT_SCHEMA = "path string, start long, end long, file_size long, codec string"


# -- decompress-and-reshard pre-pass (whole-file-gzip archives) ----------------


def _raw_stream_chunks(f, size: int) -> Iterator:
    """Positional-read chunk iterator over an uncompressed file."""
    pos = 0
    while pos < size:
        b = f.read_at(min(_CHUNK, size - pos), pos)
        if not b:
            return
        pos += len(b)
        yield bytes(b)


def _gz_stream_chunks(f, size: int) -> Iterator:
    """Streaming gzip decode over positional reads — O(chunk) memory
    whatever the archive size, and member-concatenation-transparent
    (a whole-file archive and a per-record-member file both decode to
    one logical byte stream, like :class:`gzip.GzipFile`)."""
    import zlib

    d = zlib.decompressobj(31)
    pos = 0
    while pos < size:
        raw = f.read_at(min(_CHUNK, size - pos), pos)
        if not raw:
            break
        pos += len(raw)
        out = d.decompress(raw)
        if out:
            yield out
        # restart on member boundaries (concatenated gzip)
        while d.eof and d.unused_data:
            rest = d.unused_data
            d = zlib.decompressobj(31)
            out = d.decompress(rest)
            if out:
                yield out
    tail = d.flush()
    if tail:
        yield tail


def _iter_raw_warc_records(chunks) -> Iterator:
    """Frame a decompressed WARC byte stream into RAW record blobs
    (header + body + terminator, byte-identical — no parse/serialize
    round trip) holding O(record) memory.  Strict: malformed or
    truncated framing raises, exactly like :func:`parse_warc_bytes`."""
    import re as _re

    buf = bytearray()
    it = iter(chunks)
    eof = False

    def more() -> bool:
        nonlocal eof
        try:
            buf.extend(next(it))
            return True
        except StopIteration:
            eof = True
            return False

    while True:
        while not eof and len(buf) < 10:
            more()
        if not buf and eof:
            return
        if bytes(buf[:10]) not in _VERSIONS:
            raise ValueError("Malformed WARC record in archive stream")
        hend = buf.find(b"\r\n\r\n")
        while hend < 0:
            if not more():
                raise ValueError("Truncated WARC header at archive tail")
            hend = buf.find(b"\r\n\r\n")
        m = _re.search(
            rb"(?im)^content-length:[ \t]*(\d+)[ \t]*$", bytes(buf[:hend])
        )
        if m is None:
            raise ValueError("WARC record without Content-Length")
        total = hend + 4 + int(m.group(1)) + 4
        while len(buf) < total:
            if not more():
                raise ValueError("Truncated WARC record at archive tail")
        if bytes(buf[total - 4 : total]) != b"\r\n\r\n":
            raise ValueError("WARC Content-Length does not land on terminator")
        yield bytes(buf[:total])
        del buf[:total]


_RESHARD_SCHEMA = "src string, dst string, n_records long, bytes_out long"


def reshard_warc_gz(spark: SparkSession, path, dst_dir: str) -> DataFrame:
    """Decompress-and-reshard pre-pass for WHOLE-FILE-gzip WARC
    archives — the one crawl layout byte-range splits cannot reach
    (gzip without member boundaries is inherently serial; the module
    docstring documents the graceful degrade).  A real 100 TB crawl in
    that shape pays this ONE linear pass and every downstream read is
    splittable:

    - one task per input archive (the only possible parallelism for
      unsplittable inputs — across archives, never within one);
    - each task STREAMS its archive (zlib decompressobj over
      positional reads + incremental record framing — O(record)
      memory, never a whole-file materialization);
    - records are re-emitted BYTE-IDENTICAL, each wrapped in its own
      gzip member (``mtime=0`` for deterministic output) — the
      CommonCrawl layout :func:`read_warc` splits by byte range;
    - accepts already-per-record-member and uncompressed ``.warc``
      inputs too (member-concatenation-transparent decode), so one
      normalization pass canonicalizes a mixed crawl drop.

    Returns the lazy manifest DataFrame (src, dst, n_records,
    bytes_out) — one row per archive; an action on it (e.g.
    ``.collect()``, bounded by the FILE count, never rows) drives the
    rewrite.  Output files land in *dst_dir* named after each source
    archive."""
    paths = list(path) if isinstance(path, (list, tuple)) else [path]
    files: list[tuple[str, int]] = []
    for p in paths:
        fs = fs_for(spark, p)
        if fs.is_file(p):
            files.append((p, fs.file_size(p)))
        else:
            for dirpath, _dirs, names in fs.walk(p):
                for name in sorted(names):
                    if not name.startswith((".", "_")):
                        fp = fs.join(dirpath, name)
                        files.append((fp, fs.file_size(fp)))
    if not files:
        raise FileNotFoundError(f"No WARC files under {paths!r}")
    rows = []
    seen_dst: dict[str, str] = {}
    for fp, size in files:
        base = fp.rstrip("/").rsplit("/", 1)[-1]
        if not base.endswith(".gz"):
            base += ".gz"
        dst = f"{dst_dir.rstrip('/')}/{base}"
        if dst in seen_dst:
            # Crawl segment dirs routinely repeat basenames
            # (segment-*/part-00000.warc.gz); a silent same-dst
            # overwrite would drop whole archives from the corpus.
            # Disambiguate with a stable hash of the full source path.
            dst = (
                f"{dst_dir.rstrip('/')}/"
                f"{hashlib.md5(fp.encode()).hexdigest()[:8]}-{base}"
            )
        if dst in seen_dst:
            raise ValueError(
                f"reshard_warc_gz: duplicate output path {dst!r} for "
                f"{fp!r} and {seen_dst[dst]!r}"
            )
        seen_dst[dst] = fp
        rows.append((fp, size, dst))
    plan = spark.createDataFrame(
        rows, "src string, file_size long, dst string"
    ).repartition(len(rows))

    def work(batches: Iterator) -> Iterator:
        import pandas as pd
        import pyarrow.fs as pafs

        for pdf in batches:
            out_rows = []
            for r in pdf.itertuples(index=False):
                if "://" in r.src or r.src.startswith("file:"):
                    fs_in, p_in = pafs.FileSystem.from_uri(r.src)
                else:
                    fs_in, p_in = pafs.LocalFileSystem(), r.src
                if "://" in r.dst or r.dst.startswith("file:"):
                    fs_out, p_out = pafs.FileSystem.from_uri(r.dst)
                else:
                    fs_out, p_out = pafs.LocalFileSystem(), r.dst
                parent = p_out.rsplit("/", 1)[0]
                fs_out.create_dir(parent, recursive=True)
                n = 0
                out_bytes = 0
                with fs_in.open_input_file(p_in) as f:
                    chunks = (
                        _gz_stream_chunks(f, int(r.file_size))
                        if p_in.endswith(".gz")
                        else _raw_stream_chunks(f, int(r.file_size))
                    )
                    # compression=None: pyarrow's 'detect' default would
                    # gzip the stream AGAIN because of the .gz extension,
                    # collapsing the per-record members into one —
                    # exactly the layout this pass exists to remove
                    with fs_out.open_output_stream(
                        p_out, compression=None
                    ) as out:
                        for rec in _iter_raw_warc_records(chunks):
                            blob = gzip.compress(rec, mtime=0)
                            out.write(blob)
                            n += 1
                            out_bytes += len(blob)
                out_rows.append([r.src, r.dst, n, out_bytes])
            yield pd.DataFrame(
                out_rows, columns=["src", "dst", "n_records", "bytes_out"]
            )

    return plan.mapInPandas(work, schema=_RESHARD_SCHEMA)


def read_warc(spark: SparkSession, path, split_bytes: int | None = None) -> DataFrame:
    """Read WARC file(s)/dir(s) at *path* into a DataFrame of
    :data:`WARC_SCHEMA` rows.  Files larger than *split_bytes* (default
    ``spark.sql.files.maxPartitionBytes``) split into byte ranges with
    chain-validated realignment — record-granular for uncompressed
    ``.warc``, gzip-member-granular for ``.warc.gz`` (whole-file-gzip
    archives degrade to one task, see the module docstring)."""
    if split_bytes is None:
        split_bytes = max_partition_bytes(spark)
    if split_bytes < 1:
        raise ValueError(f"split_bytes must be positive, got {split_bytes}")
    paths = list(path) if isinstance(path, (list, tuple)) else [path]
    files: list[tuple[object, str]] = []
    for p in paths:
        fs = fs_for(spark, p)
        if fs.is_file(p):
            files.append((fs, p))
        else:
            for dirpath, _dirs, names in fs.walk(p):
                for name in sorted(names):
                    if not name.startswith((".", "_")):
                        files.append((fs, fs.join(dirpath, name)))
    if not files:
        raise FileNotFoundError(f"No WARC files under {paths!r}")
    splits = []
    for fs, fpath in files:
        size = fs.file_size(fpath)
        if fpath.endswith(".gz") and size <= split_bytes:
            splits.append((fpath, 0, size, size, "gzip"))
            continue
        codec = "gzip-split" if fpath.endswith(".gz") else "none"
        n_splits = max(1, -(-size // split_bytes))
        for i in range(n_splits):
            splits.append(
                (
                    fpath,
                    i * split_bytes,
                    min((i + 1) * split_bytes, size),
                    size,
                    codec,
                )
            )
    plan = spark.createDataFrame(splits, _SPLIT_SCHEMA).repartition(len(splits))
    return plan.mapInPandas(_decode_split_partition(_COLS), schema=WARC_SCHEMA)


# -- writer (fixtures, tests, egress) -----------------------------------------


def write_warc_records(records, compress: bool = False) -> bytes:
    """Serialize *records* (dicts: record_id, warc_type, target_uri,
    warc_date, content_type, payload bytes — payload is the RAW block,
    HTTP envelope included if the caller wants one) to WARC bytes.
    ``compress=True`` emits one gzip member per record (the CommonCrawl
    layout this module's ``.gz`` path reads)."""
    out = io.BytesIO()
    for rec in records:
        body = rec.get("payload") or b""
        if isinstance(body, str):
            body = body.encode("utf-8")
        head = io.BytesIO()
        head.write(b"WARC/1.0\r\n")
        for key, field in (
            ("WARC-Type", "warc_type"),
            ("WARC-Record-ID", "record_id"),
            ("WARC-Date", "warc_date"),
            ("WARC-Target-URI", "target_uri"),
            ("Content-Type", "content_type"),
        ):
            v = rec.get(field)
            if v is not None:
                head.write(f"{key}: {v}\r\n".encode())
        head.write(f"Content-Length: {len(body)}\r\n\r\n".encode())
        blob = head.getvalue() + body + b"\r\n\r\n"
        out.write(gzip.compress(blob) if compress else blob)
    return out.getvalue()
