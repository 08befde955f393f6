"""The one filesystem layer for output paths: every list, exists, mkdirs,
rename, delete and small-file put/get on a job's output root goes through
the Hadoop FileSystem API of the active SparkSession, so a plain local
path, ``file://``, ``hdfs://`` and ``s3a://`` roots behave the same.

Hadoop's ``rename``, ``delete`` and ``mkdirs`` report failure by returning
False; every operation here raises ``OSError`` instead, so callers (the
compaction swap above all) cannot lose a failure silently.

Small files cross py4j as ISO-8859-1 strings (one char per byte, all 256
values round-trip), never as ``byte[]``: a py4j ``byte[]`` return stalls
~44 ms per call even for a few KB. So does any py4j answer longer than the
gateway's 8192-char write buffer (it leaves in two TCP writes, and the
second waits out a delayed ACK), which is why ``get`` reads in chunks of
at most _CHUNK bytes: <= 2 UTF-8/escape bytes each, so one answer per
chunk stays inside one write. Measured on a 4-core VM, Spark 4.1.2: a 20 KB
file in one string 49 ms, in 4000-byte chunks 4.5 ms.
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession

_CHARSET = "ISO-8859-1"
_CHUNK = 4000


def _resolve(path: str):
    """(JVM class by name, Hadoop FileSystem, Hadoop Path) for ``path``.

    Classes are named in full: ``jvm.org.apache...`` spends one py4j round
    trip per dotted segment (measured 2.2 vs 0.65 ms for this function)."""
    spark = SparkSession.active()

    def cls(name: str) -> JavaClass:
        return JavaClass(name, spark._jvm._gateway_client)

    p = cls("org.apache.hadoop.fs.Path")(path)
    return cls, p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def ls(path: str) -> list[tuple[str, bool, int]]:
    """(name, is_dir, length) of each child of ``path``; [] if it is missing."""
    _, fs, p = _resolve(path)
    if not fs.exists(p):
        return []
    return [
        (st.getPath().getName(), st.isDirectory(), st.getLen()) for st in fs.listStatus(p)
    ]


def list_dates(path: str) -> list[str]:
    """Sorted dates of the Hive-style ``date=YYYY-MM-DD`` partition dirs
    under ``path`` — a metadata listing, no data scan. [] when ``path`` is
    missing or not date-partitioned."""
    return sorted(name[5:] for name, is_dir, _ in ls(path) if is_dir and name.startswith("date="))


def exists(path: str) -> bool:
    _, fs, p = _resolve(path)
    return fs.exists(p)


def mkdirs(path: str) -> None:
    _, fs, p = _resolve(path)
    if not fs.mkdirs(p):
        raise OSError(f"mkdirs failed: {path}")


def rename(src: str, dst: str) -> None:
    cls, fs, p = _resolve(src)
    if not fs.rename(p, cls("org.apache.hadoop.fs.Path")(dst)):
        raise OSError(f"rename failed: {src} -> {dst}")


def delete(path: str) -> None:
    """Recursively delete ``path``; a missing path is already deleted."""
    _, fs, p = _resolve(path)
    if not fs.delete(p, True) and fs.exists(p):
        raise OSError(f"delete failed: {path}")


def put(path: str, data: bytes) -> None:
    """Write ``data`` as the whole file at ``path`` (overwriting)."""
    _, fs, p = _resolve(path)
    out = fs.create(p, True)
    try:
        # DataOutputStream.writeBytes writes each char's low byte: the
        # ISO-8859-1 encoding of a latin-1-decoded string
        out.writeBytes(data.decode("latin-1"))
    finally:
        out.close()


def get(path: str) -> bytes:
    """The whole content of the file at ``path``."""
    cls, fs, p = _resolve(path)
    to_string = cls("org.apache.commons.io.IOUtils").toString
    bounded = cls("org.apache.commons.io.input.BoundedInputStream")
    stream = fs.open(p)
    parts: list[str] = []
    try:
        while True:
            part = to_string(bounded(stream, _CHUNK), _CHARSET)
            parts.append(part)
            if len(part) < _CHUNK:
                return "".join(parts).encode("latin-1")
    finally:
        stream.close()
