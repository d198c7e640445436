"""Filesystem facade for `.updates` discovery.

The reference resolves the script through the Hadoop ``FileSystem`` API
(``SQLUpdater.java:110-116`` — ``new Path(base.getParent(), ".updates")``),
so it works on HDFS out of the box.  Round-1 discovery used ``os.walk`` /
``open()`` — local paths only; an ``hdfs://`` or ``s3a://`` table would
silently find no scripts and return raw (un-updated) rows.

This module routes discovery through the session JVM's Hadoop
``FileSystem`` whenever the path carries a URI scheme, and keeps the
cheap ``os`` path for plain local paths.  Both implement the same three
operations (``walk``, ``exists``, ``read_text``), so ``read_scd`` is
scheme-agnostic: ``/data/t``, ``file:/data/t``, ``hdfs://nn/data/t``,
``s3a://bucket/t`` all behave identically wherever Spark itself could
read them.

Driver-side cost: one JVM ``listStatus`` per directory and one buffered
read per distinct ``.updates`` file — the same driver-side metadata work
Spark's own ``InMemoryFileIndex`` does for any read, so this adds no new
scaling constraint at 1000-dir partition counts.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

from pyspark.sql import SparkSession

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def has_uri_scheme(path: str) -> bool:
    """True for ``scheme:...`` paths (``file:``, ``hdfs://``, ``s3a://``);
    false for plain local paths, including Windows-style ``C:\\`` (single
    letter is a drive, not a scheme)."""
    m = _SCHEME_RE.match(path)
    return bool(m) and len(m.group(0)) > 2  # "C:" → drive, not scheme


class LocalFS:
    """``os``-backed implementation for plain local paths."""

    def walk(self, path: str) -> Iterator[tuple[str, list[str], list[str]]]:
        yield from os.walk(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_file(self, path: str) -> bool:
        return os.path.isfile(path)

    def read_text(self, path: str) -> str:
        with open(path, encoding="utf-8") as fh:
            return fh.read()

    def read_head(self, path: str, n: int | None = None) -> bytes:
        with open(path, "rb") as fh:
            return fh.read() if n is None else fh.read(n)

    def file_size(self, path: str) -> int:
        return os.stat(path).st_size

    def list_dir(self, path: str) -> list[str]:
        return os.listdir(path)

    def delete(self, path: str, recursive: bool = True) -> None:
        if os.path.isdir(path):
            if recursive:
                import shutil

                shutil.rmtree(path)
            else:
                os.rmdir(path)
        elif os.path.exists(path):
            os.remove(path)

    def join(self, base: str, name: str) -> str:
        return os.path.join(base, name)


class HadoopFS:
    """Hadoop ``FileSystem``-backed implementation (via the session JVM)
    for any scheme Spark can reach.  Mirrors the reference's script
    resolution (``SQLUpdater.java:110-116``)."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self._hconf = spark._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(path).getFileSystem(self._hconf)

    @staticmethod
    def _is_not_found(exc: Exception) -> bool:
        """True only for a Java FileNotFoundException anywhere in the py4j
        error's cause chain.  Auth/connectivity failures (S3 AccessDenied,
        UnknownHost, ...) must NOT match: swallowing them would silently
        discover no ``.updates`` scripts and hand back raw rows — the
        exact failure mode this module exists to eliminate."""
        jexc = getattr(exc, "java_exception", None)
        seen = 0
        while jexc is not None and seen < 10:
            try:
                cls = jexc.getClass().getName()
            except Exception:
                return False
            if cls.endswith("FileNotFoundException"):
                return True
            try:
                jexc = jexc.getCause()
            except Exception:
                return False
            seen += 1
        return False

    def walk(self, path: str) -> Iterator[tuple[str, list[str], list[str]]]:
        stack = [path]
        while stack:
            cur = stack.pop()
            try:
                statuses = self._fs.listStatus(self._Path(cur))
            except Exception as exc:
                if self._is_not_found(exc):
                    continue  # vanished directory — same race os.walk tolerates
                raise
            dirnames, filenames = [], []
            for st in statuses:
                name = st.getPath().getName()
                if st.isDirectory():
                    dirnames.append(name)
                else:
                    filenames.append(name)
            yield cur, dirnames, filenames
            stack.extend(self.join(cur, d) for d in sorted(dirnames, reverse=True))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def is_file(self, path: str) -> bool:
        try:
            return bool(self._fs.getFileStatus(self._Path(path)).isFile())
        except Exception:
            return False

    def read_head(self, path: str, n: int | None = None) -> bytes:
        """First *n* bytes (or all when None) — Java 17's
        ``InputStream.readNBytes`` hands the array straight back as
        Python bytes via py4j."""
        stream = self._fs.open(self._Path(path))
        try:
            if n is None:
                out = b""
                while True:
                    chunk = stream.readNBytes(4 << 20)
                    if not chunk:
                        return out
                    out += bytes(chunk)
            return bytes(stream.readNBytes(n))
        finally:
            stream.close()

    def file_size(self, path: str) -> int:
        return int(self._fs.getFileStatus(self._Path(path)).getLen())

    def list_dir(self, path: str) -> list[str]:
        return [
            st.getPath().getName()
            for st in self._fs.listStatus(self._Path(path))
        ]

    def delete(self, path: str, recursive: bool = True) -> None:
        self._fs.delete(self._Path(path), recursive)

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._Path(path))
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            while True:
                line = reader.readLine()
                if line is None:
                    break
                lines.append(line)
            return "\n".join(lines)
        finally:
            stream.close()

    def join(self, base: str, name: str) -> str:
        return base.rstrip("/") + "/" + name


def fs_for(spark: SparkSession, path: str) -> LocalFS | HadoopFS:
    """Pick the implementation by scheme.  Plain paths stay on ``os``
    (no JVM round-trips — also works under Spark Connect, where the
    session has no ``_jvm``); any URI scheme goes through Hadoop.
    On a Connect session a URI-scheme path fails LOUDLY here (ADVICE
    r14): the py4j gateway is feature-detected, so callers get one
    clear message instead of an ``AttributeError`` deep in a batch."""
    if has_uri_scheme(path):
        if getattr(spark, "_jvm", None) is None:
            raise RuntimeError(
                f"fs_for: path {path!r} carries a URI scheme, which "
                f"requires the Hadoop FileSystem API via the session "
                f"JVM — unavailable on this session (Spark Connect has "
                f"no py4j gateway).  Use a classic session, or a plain "
                f"local path (os-backed, Connect-safe)."
            )
        return HadoopFS(spark, path)
    return LocalFS()


_SIZE_SUFFIX = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def byte_string_as_bytes(raw: str) -> int:
    """Parse a Spark size conf value — plain bytes (``134217728``) or
    JVM byte-string (``128m``, ``1g``, ``64kb``, ``1t``; case-insensitive,
    optional trailing ``b``) — the same grammar as the JVM's
    ``JavaUtils.byteStringAsBytes``.  Naive digit extraction would read
    ``'128m'`` as 128 BYTES and plan millions of splits."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", raw.lower())
    if not m:
        raise ValueError(f"cannot parse byte-size conf value {raw!r}")
    return int(m.group(1)) << _SIZE_SUFFIX[m.group(2)]


def max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes: the default split
    size of the Avro and WARC readers."""
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    return byte_string_as_bytes(raw)
