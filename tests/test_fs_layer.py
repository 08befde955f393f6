"""The fs layer: every output-path touch in the job, manifest, retention,
serving and table-sink modules goes through ``addax_spark.fs`` (Hadoop
FileSystem API), and its mutating calls fail loudly."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest
from py4j.protocol import Py4JJavaError

import addax_spark
from addax_spark import fs

GUARDED = ["job.py", "manifest.py", "retention.py", "serving.py", "sinks/table.py"]
FORBIDDEN = {
    "os.listdir", "os.makedirs", "os.rename",
    "os.path.isdir", "os.path.getsize", "os.path.join",
}


def _dotted(node: ast.AST) -> str | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    return ".".join([node.id, *reversed(parts)]) if isinstance(node, ast.Name) else None


def test_output_paths_only_through_fs():
    """No local-only os/shutil path call in the modules that touch output
    roots: those calls break on file://, hdfs:// and s3a:// roots."""
    pkg = pathlib.Path(addax_spark.__file__).parent
    bad = []
    for rel in GUARDED:
        for node in ast.walk(ast.parse((pkg / rel).read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [f"{node.module}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Attribute):
                names = [_dotted(node) or ""]
            else:
                continue
            bad += [
                f"{rel}:{node.lineno}: {n}"
                for n in names
                if n.split(".")[0] == "shutil" or n in FORBIDDEN
            ]
    assert not bad, bad


def test_rename_missing_source_raises(spark, tmp_path):
    """Hadoop's rename reports a missing source by returning False (or by
    throwing, on the local FS); either way the fs layer raises."""
    with pytest.raises((OSError, Py4JJavaError)):
        fs.rename(str(tmp_path / "missing"), str(tmp_path / "dst"))
    assert not os.path.exists(tmp_path / "dst")


def test_put_get_roundtrips_every_byte(spark, tmp_path):
    """Bytes cross py4j as ISO-8859-1 strings in bounded chunks: all 256
    byte values and chunk-boundary sizes round-trip exactly."""
    for n in (0, 1, fs._CHUNK, fs._CHUNK + 1, 3 * fs._CHUNK + 7):
        data = bytes(i % 256 for i in range(n))
        fs.put(str(tmp_path / f"f{n}"), data)
        assert (tmp_path / f"f{n}").read_bytes() == data
        assert fs.get(f"file://{tmp_path}/f{n}") == data
