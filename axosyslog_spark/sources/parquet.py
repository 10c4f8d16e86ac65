"""Parquet reads with each file set's schema inferred once.

``spark.read.parquet(path)`` infers the schema on every call: it lists
the files and runs a one-task Spark job that reads a footer, before
the caller has asked for any data. Here the schema is inferred once
per JVM and file set, and later reads declare it
(``spark.read.schema(...)``), which starts no job.

The one caller is ``sources/transcripts.synthesize_transcripts``: it
reads the same events table on every pass, the only parquet read that
repeats within one process. The one-shot readers (the checkpointed
runner's staged table and output, the streaming source, the runner's
``--input``) call ``spark.read.parquet``: they would never hit the
memo and would pay its Python file listing for nothing.

The file set is the path plus every file under it, each with its
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

from axosyslog_spark.functions.literals import JvmMemo

_SCHEMAS = JvmMemo()


def _local_dir(path: str) -> str | None:
    """The local file-system path of ``path``; None for another scheme
    or a glob, which only Spark can list."""
    url = urlparse(path)
    if url.scheme not in ("", "file") or any(c in path for c in "*?[{"):
        return None
    return url.path if url.scheme else path


def _file_set(path: str) -> tuple | None:
    """((relative name, length, mtime ns), ...) of the files at
    ``path``; None when it cannot be listed here or holds no file."""
    local = _local_dir(path)
    if local is None:
        return None
    if os.path.isfile(local):
        st = os.stat(local)
        return ((os.path.basename(local), st.st_size, st.st_mtime_ns),)
    files = []
    for root, _dirs, names in os.walk(local):
        for name in names:
            st = os.stat(os.path.join(root, name))
            rel = os.path.relpath(os.path.join(root, name), local)
            files.append((rel, st.st_size, st.st_mtime_ns))
    return tuple(sorted(files)) or None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with a schema inferred once per JVM
    and unchanged file set (see the module docstring)."""
    files = _file_set(path)
    if files is None:
        return spark.read.parquet(path)
    # inference reads the session's parquet settings: one entry per session
    schema = _SCHEMAS.get(
        (spark, path, files), lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)
