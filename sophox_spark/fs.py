"""Filesystem abstraction for table/manifest paths.

Snapshot-table reads need existence probes and directory listings. At
cluster scale those paths live on HDFS/S3, where ``os.path`` is wrong —
all probes route through the JVM Hadoop FileSystem API bound to the
session's Hadoop configuration, which resolves the right scheme
(file://, hdfs://, s3a://) per path. In local mode this is the local
filesystem, so tests exercise the same code path that runs on a
cluster.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry names of a directory ([] if it doesn't exist)."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def stamps(spark: SparkSession, paths) -> tuple:
    """``(path, length, modification time)`` of each file, as the
    filesystem reports it now."""
    out = []
    for path in paths:
        fs, p = _fs_and_path(spark, path)
        st = fs.getFileStatus(p)
        out.append((path, int(st.getLen()), int(st.getModificationTime())))
    return tuple(out)


def any_file_with_suffix(spark: SparkSession, path: str, suffix: str) -> bool:
    return any(n.endswith(suffix) for n in list_names(spark, path))


def write_renamed(spark: SparkSession, tmp_path: str, path: str, data: bytes) -> None:
    """Write ``data`` to ``tmp_path``, then rename it to ``path``.

    Readers that skip ``_``-prefixed names see the file appear whole or
    not at all when ``tmp_path`` is one. Hadoop's ``rename`` reports
    failure by returning ``False``, so a failed rename raises ``OSError``
    here (and the temp file is deleted)."""
    fs, tmp = _fs_and_path(spark, tmp_path)
    dst = spark._jvm.org.apache.hadoop.fs.Path(path)
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, dst):
        fs.delete(tmp, False)
        raise OSError(f"rename {tmp_path} -> {path} failed")
