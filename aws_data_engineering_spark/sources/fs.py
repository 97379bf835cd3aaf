"""Hadoop FileSystem helpers: probes and deletes that work on every
filesystem Spark can read (local, hdfs, s3a), not only the local disk.

An existence probe through the FS API is a true ``exists()``: a path that
exists but cannot be read (corrupt footer, permission error, transient
object-store failure) is reported as existing, so the caller's real read
raises instead of mistaking the failure for absence.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``, resolved through the session's
    Hadoop configuration (so ``s3a://``/``hdfs://`` pick their connector)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = hadoop_path(spark, path)
    return bool(fs.exists(hpath))


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursive delete; a missing path is not an error."""
    fs, hpath = hadoop_path(spark, path)
    fs.delete(hpath, True)
