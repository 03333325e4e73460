"""The program's one seam to storage: Hadoop FileSystem calls through py4j.

A path is a Hadoop URI (``file:///``, ``hdfs://``, ``s3a://``...) or a local
path, resolved to its own FileSystem.  ``pathlib`` would report HDFS/S3A
paths as absent and put ``file:`` URIs under the working directory.

IO errors (open/read/write, py4j) propagate.  Only a document that does not
parse as a JSON object reads as ``None`` — a torn write, not a failed read.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def _resolve(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def _glob(spark: SparkSession, pattern: str) -> list:
    fs, hpath = _resolve(spark, pattern)
    return list(fs.globStatus(hpath) or [])


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _resolve(spark, path)
    return bool(fs.exists(hpath))


def delete(spark: SparkSession, path: str) -> None:
    """Remove ``path`` (a file, or a directory tree); a missing path is a
    no-op."""
    fs, hpath = _resolve(spark, path)
    fs.delete(hpath, True)


def glob_dirs(spark: SparkSession, pattern: str) -> list[str]:
    """Directory URIs matching a Hadoop glob."""
    return [
        str(st.getPath().toUri())
        for st in _glob(spark, pattern)
        if st.isDirectory()
    ]


def glob_files(spark: SparkSession, pattern: str) -> list[tuple[str, int]]:
    """(URI, length in bytes) of every file matching a Hadoop glob."""
    return [
        (str(st.getPath().toUri()), int(st.getLen()))
        for st in _glob(spark, pattern)
        if not st.isDirectory()
    ]


def read_json(spark: SparkSession, path: str) -> dict | None:
    """Parsed JSON object at ``path``, or None when the text does not parse
    as a JSON object (a torn write).  A missing file and IO errors raise: a
    transient FS/py4j failure is not evidence of a torn file."""
    fs, hpath = _resolve(spark, path)
    stream = fs.open(hpath)
    try:
        scanner = spark.sparkContext._jvm.java.util.Scanner(stream)
        text = scanner.useDelimiter("\\A").next() if scanner.hasNext() else ""
        # Scanner reports a read error as end-of-input; surface it
        err = scanner.ioException()
        if err is not None:
            raise OSError(f"reading {path}: {err}")
    finally:
        stream.close()
    try:
        doc = json.loads(text)
    except ValueError:
        return None
    return doc if isinstance(doc, dict) else None


def write_json(spark: SparkSession, path: str, doc: dict) -> None:
    """Write ``doc`` to ``path``, replacing any file there (parent dirs are
    created)."""
    fs, hpath = _resolve(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(doc).encode()))
    finally:
        out.close()
