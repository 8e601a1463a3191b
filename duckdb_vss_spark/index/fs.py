"""Small-file artifact I/O through the JVM Hadoop FileSystem API.

The index data plane (inverted lists, tail, deletes) already moves through
``spark.read/write.parquet`` and therefore works against any Hadoop-supported
store (local, ``file://``, ``s3a://``, ``abfss://``, ``hdfs://``). The control
plane (manifest.json, centroids.npy, existence checks, listings and deletes)
goes through ``Path.getFileSystem`` too, so every path has the same reach
as the data plane with zero extra dependencies — the reference's analog is
index blocks living in the database file itself (reference:
src/hnsw/hnsw_index.cpp:45-144). The commit protocol built on these calls
is :mod:`.segments`.

All functions accept plain local paths or any URI Hadoop resolves. Latency is
one JVM round-trip per call — fine for per-query metadata, never used per-row.
"""

from __future__ import annotations

import io

import numpy as np

from pyspark.sql import SparkSession

__all__ = [
    "join",
    "exists",
    "mkdirs",
    "delete",
    "listdir",
    "read_bytes",
    "write_bytes",
    "read_json",
    "write_json",
    "read_npy",
    "write_npy",
]


def join(*parts: str) -> str:
    """URI-safe path join (os.path.join corrupts scheme-qualified URIs on
    some platforms; '/' is correct for every Hadoop FS)."""
    head, tail = parts[0].rstrip("/"), [p.strip("/") for p in parts[1:]]
    return "/".join([head, *tail])


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def exists(spark: SparkSession, path: str) -> bool:
    fs, p, _ = _fs(spark, path)
    return bool(fs.exists(p))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p, _ = _fs(spark, path)
    fs.mkdirs(p)


def delete(spark: SparkSession, path: str) -> None:
    fs, p, _ = _fs(spark, path)
    fs.delete(p, True)


def listdir(spark: SparkSession, path: str) -> list[str]:
    fs, p, _ = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def read_bytes(spark: SparkSession, path: str) -> bytes:
    fs, p, jvm = _fs(spark, path)
    stream = fs.open(p)
    try:
        # commons-io ships on every Spark classpath
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    fs, p, _ = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_json(spark: SparkSession, path: str) -> dict:
    import json

    return json.loads(read_bytes(spark, path).decode("utf-8"))


def write_json(spark: SparkSession, path: str, obj: dict) -> None:
    import json

    write_bytes(spark, path, json.dumps(obj, indent=2).encode("utf-8"))


def read_npy(spark: SparkSession, path: str) -> np.ndarray:
    return np.load(io.BytesIO(read_bytes(spark, path)))


def write_npy(spark: SparkSession, path: str, arr: np.ndarray) -> None:
    buf = io.BytesIO()
    np.save(buf, arr)
    write_bytes(spark, path, buf.getvalue())
