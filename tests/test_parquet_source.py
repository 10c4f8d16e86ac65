"""Parquet inputs infer their schema once per file set
(sources/parquet.py): a later read of unchanged files starts no Spark
job, a rewritten file set is inferred again, and ``ts`` keeps the type
its files declare."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrameReader
from pyspark.sql.types import TimestampNTZType, TimestampType

from axosyslog_spark import checkpoint as ck
from axosyslog_spark.sources.parquet import read_parquet
from axosyslog_spark.sources.transcripts import synthesize_transcripts

EVENTS_SQL = (
    "SELECT id AS event_id, id % 7 AS user_id, "
    "element_at(array('click', 'run', 'error'), CAST(id % 3 + 1 AS INT)) AS event_type, "
    "CAST(id % 11 AS DOUBLE) AS value, '{\"k\": 4}' AS props, "
    "CAST(TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS {ts}) AS ts "
    "FROM range(60)"
)


def _job_ids(spark) -> set[int]:
    """Jobs the status tracker knows, once the listener bus has
    delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _jobs_started_by(spark, fn) -> tuple[object, set[int]]:
    before = _job_ids(spark)
    out = fn()
    return out, _job_ids(spark) - before


def _events_dir(spark, tmp_path, name: str, ts_type: str) -> str:
    d = tmp_path / name
    spark.sql(EVENTS_SQL.replace("{ts}", ts_type)).coalesce(2).write.parquet(
        str(d / "events.parquet")
    )
    return str(d)


def test_second_read_of_unchanged_files_starts_no_job(spark, tmp_path):
    """A second synthesize_transcripts over the same files runs no Spark
    job before an action; TIMESTAMP and TIMESTAMP_NTZ events each keep
    their ``ts`` type, and both give the same ``text``."""
    types = {"TIMESTAMP": TimestampType, "TIMESTAMP_NTZ": TimestampNTZType}
    texts = []
    for ts_type, spark_type in types.items():
        d = _events_dir(spark, tmp_path, ts_type, ts_type)
        synthesize_transcripts(spark, d)
        t, jobs = _jobs_started_by(spark, lambda: synthesize_transcripts(spark, d))
        assert jobs == set(), ts_type
        assert isinstance(t.schema["ts"].dataType, spark_type)
        texts.append(t.orderBy("conv_id", "turn_idx").select("text").collect())
    assert len(texts[0]) == 60
    assert texts[0] == texts[1]


def test_rewritten_file_set_is_inferred_again(spark, tmp_path):
    """Files rewritten under the same names with another schema: the
    new schema is read, not the remembered one."""
    d = tmp_path / "ev"
    (d / "events.parquet").mkdir(parents=True)
    part = d / "events.parquet" / "part-0.parquet"
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([1, 1], pa.int64()),
        "event_type": pa.array(["run", "click"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(['{"k": 1}', '{"k": 2}']),
        "ts": pa.array([0, 1], pa.timestamp("us")),
    }
    pq.write_table(pa.table(cols), part)
    assert "extra" not in read_parquet(spark, str(d / "events.parquet")).columns
    assert synthesize_transcripts(spark, str(d)).count() == 2

    pq.write_table(pa.table({**cols, "extra": pa.array(["x", "y"])}), part)
    assert "extra" in read_parquet(spark, str(d / "events.parquet")).columns

    pq.write_table(pa.table({k: v for k, v in cols.items() if k != "props"}), part)
    with pytest.raises(AnalysisException):
        synthesize_transcripts(spark, str(d)).count()


def test_checkpointed_run_infers_the_staged_schema_once(spark, tmp_path, monkeypatch):
    """One inference job on the staged table for the whole run, not
    one per bucket."""
    t = synthesize_transcripts(spark, _events_dir(spark, tmp_path, "ev", "TIMESTAMP_NTZ"))
    staged_jobs: list[int] = []
    staged_reads: list[tuple] = []
    parquet = DataFrameReader.parquet

    def counting(self, *paths, **options):
        out, jobs = _jobs_started_by(spark, lambda: parquet(self, *paths, **options))
        if any(p.endswith("_staged") for p in paths):
            staged_jobs.extend(jobs)
            staged_reads.append(paths)
        return out

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    rep = ck.run_checkpointed(spark, t, str(tmp_path / "out"), n_buckets=4)
    assert rep.processed_buckets == [0, 1, 2, 3]
    assert len(staged_jobs) == 1
    assert rep.total_rows == ck.read_output(spark, str(tmp_path / "out")).count()
    # a resume with every bucket committed does not read the staged table
    staged_reads.clear()
    again = ck.run_checkpointed(spark, t, str(tmp_path / "out"), n_buckets=4)
    assert again.processed_buckets == [] and again.skipped_buckets == [0, 1, 2, 3]
    assert staged_reads == []
