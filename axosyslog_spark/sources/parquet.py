"""Parquet reads with each file set's schema inferred once.

``spark.read.parquet(path)`` infers the schema on every call: it lists
the files and runs a one-task Spark job that reads a footer, before
the caller has asked for any data. A pipeline that reads the same
table on every pass or for every bucket pays that job each time. Here
the schema is inferred once per JVM and file set, and later reads
declare it (``spark.read.schema(...)``), which starts no job.

The file set is the paths plus every file under them, each with its
name, length and modification time, listed from Python. A rewritten
table is therefore inferred again, even when its file names are the
same. Column types are whatever the files declare: ``ts`` may be
TIMESTAMP in one table and TIMESTAMP_NTZ in another.

Only paths on the local file system can be listed this way. A path
with another scheme (``s3://``, ``hdfs://``) or a glob is inferred on
every call, as Spark does.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from axosyslog_spark.functions.literals import JvmMemo

_SCHEMAS = JvmMemo()


def _local_dir(path: str) -> str | None:
    """The local file-system path of ``path``; None for another scheme
    or a glob, which only Spark can list."""
    url = urlparse(path)
    if url.scheme not in ("", "file") or any(c in path for c in "*?[{"):
        return None
    return url.path if url.scheme else path


def _file_set(paths: tuple[str, ...]) -> tuple | None:
    """(path, ((relative name, length, mtime ns), ...)) per path; None
    when a path cannot be listed here or holds no file."""
    out = []
    for path in paths:
        local = _local_dir(path)
        if local is None:
            return None
        if os.path.isfile(local):
            st = os.stat(local)
            files = [(os.path.basename(local), st.st_size, st.st_mtime_ns)]
        else:
            files = []
            for root, _dirs, names in os.walk(local):
                for name in names:
                    st = os.stat(os.path.join(root, name))
                    rel = os.path.relpath(os.path.join(root, name), local)
                    files.append((rel, st.st_size, st.st_mtime_ns))
        if not files:
            return None
        out.append((path, tuple(sorted(files))))
    return tuple(out)


def parquet_schema(spark: SparkSession, *paths: str) -> StructType:
    """The schema Spark infers for ``paths``, inferred once per JVM and
    unchanged file set."""
    return _schema(spark, paths, _file_set(paths))


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with a schema inferred once per JVM
    and unchanged file set (see the module docstring)."""
    key = _file_set(paths)
    if key is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(_schema(spark, paths, key)).parquet(*paths)


def _schema(spark: SparkSession, paths: tuple[str, ...], key: tuple | None) -> StructType:
    def infer() -> StructType:
        return spark.read.parquet(*paths).schema

    # inference reads the session's parquet settings: one entry per session
    return infer() if key is None else _SCHEMAS.get((spark, key), infer)
