"""Structured Streaming face: stream results must equal the batch
pipeline on the same input (availableNow trigger = bounded replay)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from axosyslog_spark.plans.pipeline import run_pipeline
from axosyslog_spark.sources.transcripts import synthesize_transcripts
from axosyslog_spark.streaming import pipeline as sp

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    synthesize_transcripts(spark, SF).write.parquet(path)
    return path


def _run_to_memory(spark, df, name, output_mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_pipeline_equals_batch(spark, staged, tmp_path):
    stream = sp.stream_transcripts(spark, staged)
    assert stream.isStreaming
    routed = sp.stream_pipeline(spark, stream)
    got = _run_to_memory(spark, routed, "routed_mem")
    stream_counts = {
        r.sink: r.n for r in got.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    batch = run_pipeline(spark, spark.read.parquet(staged))
    batch_counts = {r.sink: r.n for r in batch.counts.collect()}
    assert stream_counts == batch_counts


def test_session_aggregate_closes_on_gap(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "u", "x", "", t0),
        ("c1", 1, "u", "x", "", t0 + dt.timedelta(minutes=5)),
        ("c1", 2, "u", "x", "", t0 + dt.timedelta(minutes=60)),  # new session
    ]
    path = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(path)
    stream = sp.stream_transcripts(spark, path)
    sess = sp.session_aggregate(stream, gap="30 minutes")
    got = _run_to_memory(spark, sess, "sess_mem", output_mode="complete")
    rows = sorted(got.collect(), key=lambda r: r.session_start)
    assert len(rows) == 2
    assert rows[0].n_turns == 2 and rows[1].n_turns == 1


def test_rate_limit_stateful(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = [("c1", i, "u", f"t{i}", "", t0) for i in range(10)] + [
        ("c2", 0, "u", "x", "", t0)
    ]
    path = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(path)
    stream = sp.stream_transcripts(spark, path)
    rl = sp.rate_limit_stateful(stream, max_per_key=3)
    got = {r.conv_id: r for r in _run_to_memory(spark, rl, "rl_mem", "update").collect()}
    assert got["c1"].n_passed == 3 and got["c1"].n_dropped == 7
    assert got["c2"].n_passed == 1 and got["c2"].n_dropped == 0


def test_rate_limit_bucket_stream_equals_batch(spark, staged, tmp_path):
    """The windowed-allowance rate limit keeps the SAME rows in batch
    and streaming on any input (shared contract, see docstrings)."""
    from axosyslog_spark.operators import grouping

    stream = sp.stream_transcripts(spark, staged)
    rl = sp.rate_limit_bucket_stateful(stream, rate=3, window_s=3600)
    got = _run_to_memory(spark, rl, "rlb_mem")
    stream_keep = sorted(
        (r.conv_id, r.turn_idx) for r in got.select("conv_id", "turn_idx").collect()
    )
    batch = grouping.rate_limit_bucket(
        spark.read.parquet(staged), ["conv_id"], rate=3, window_s=3600
    )
    batch_keep = sorted(
        (r.conv_id, r.turn_idx) for r in batch.select("conv_id", "turn_idx").collect()
    )
    assert stream_keep == batch_keep and len(batch_keep) > 0


def test_stream_sink_writes(spark, staged, tmp_path):
    stream = sp.stream_transcripts(spark, staged)
    routed = sp.stream_pipeline(spark, stream)
    out = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")
    q = sp.write_sinks(routed, out, ckpt)
    q.awaitTermination(120)
    written = spark.read.parquet(out)
    batch = run_pipeline(spark, spark.read.parquet(staged))
    assert written.count() == batch.routed.count()
    sinks = {r.sink for r in written.select("sink").distinct().collect()}
    assert "sink_errors" in sinks and "sink_default" in sinks


def test_new_parsers_are_streaming_safe(spark, staged):
    """The kv-scanner and JSON flatten are stateless projections, so
    they apply unchanged to a streaming frame and match the batch
    result row-for-row."""
    from axosyslog_spark.operators.jsonflatten import json_flatten
    from axosyslog_spark.operators.kvscan import kv_parse

    def stage(df):
        out = kv_parse(df, "text", "kv")
        out = json_flatten(out, "text", "jf", max_depth=3)
        return out.withColumn("kv_status", F.element_at("kv", F.lit("status")))

    stream = sp.stream_transcripts(spark, staged)
    got = _run_to_memory(spark, stage(stream), "parsers_mem")
    want = stage(spark.read.parquet(staged))
    a = sorted(
        (r["conv_id"], r["turn_idx"], r["kv_status"], r["jf_ok"])
        for r in got.select("conv_id", "turn_idx", "kv_status", "jf_ok").collect()
    )
    b = sorted(
        (r["conv_id"], r["turn_idx"], r["kv_status"], r["jf_ok"])
        for r in want.select("conv_id", "turn_idx", "kv_status", "jf_ok").collect()
    )
    assert a == b and a


def test_round3_parsers_are_streaming_safe(spark, staged):
    """Round-3 stateless stages (SCL adapters, kmsg, the filterx
    event-format builtins) are pure projections too — identical
    results on a streaming frame."""
    from axosyslog_spark.functions.filterx_lang import filterx
    from axosyslog_spark.operators.kmsg import kmsg_parser
    from axosyslog_spark.operators.scl import cisco_parser

    def stage(df):
        out = cisco_parser(df, "text")
        out = kmsg_parser(out, "text")
        return filterx(out, '$cefm = parse_cef($text); $has = has_sdata();') \
            if "sdata" in out.columns else out.withColumn(
                "cef_null", F.lit(None).cast("string"))

    stream = sp.stream_transcripts(spark, staged)
    got = _run_to_memory(spark, stage(stream), "r3_parsers_mem")
    want = stage(spark.read.parquet(staged))
    cols = ["conv_id", "turn_idx", "cisco_ok", "kmsg_ok"]
    a = sorted(tuple(r[c] for c in cols) for r in got.select(*cols).collect())
    b = sorted(tuple(r[c] for c in cols) for r in want.select(*cols).collect())
    assert a == b and a


def test_stream_resume_is_exactly_once(spark, tmp_path):
    """Kill-and-restart contract: a second availableNow run against the
    SAME checkpoint must process only files staged after the first run
    — no duplicates, no loss (file-source offsets + sink commit log)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = synthesize_transcripts(spark, SF).filter(F.col("turn_idx") % 2 == 0)
    second = synthesize_transcripts(spark, SF).filter(F.col("turn_idx") % 2 == 1)
    first.write.parquet(src)

    def run_once():
        stream = sp.stream_transcripts(spark, src)
        routed = sp.stream_pipeline(spark, stream)
        q = sp.write_sinks(routed, out, ckpt)
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # "crash": the query object is gone; stage more input and resume
    second.write.mode("append").parquet(src)
    run_once()
    got = spark.read.parquet(out)
    batch = run_pipeline(spark, spark.read.parquet(src))
    assert got.count() == batch.routed.count()  # no dups, no loss
    # per-sink counts also match the batch truth after resume
    got_counts = {r.sink: r.n for r in got.groupBy("sink")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
    batch_counts = {r.sink: r.n for r in batch.counts.collect()}
    assert got_counts == batch_counts


def test_windowed_sink_counts_equal_batch_window_groupby(spark, staged):
    routed = sp.stream_pipeline(spark, sp.stream_transcripts(spark, staged))
    got = _run_to_memory(spark, sp.windowed_sink_counts(routed), "win_mem", "complete")
    batch = run_pipeline(spark, spark.read.parquet(staged)).routed
    want = batch.groupBy(F.window("ts", "5 minutes").start.alias("window_start"), "sink").agg(
        F.count(F.lit(1)).alias("n")
    )

    def rows(df):  # window starts as wall-clock strings: ts is TIMESTAMP_NTZ in batch
        return sorted(map(tuple, df.select(F.col("window_start").cast("string"), "sink", "n").collect()))

    assert rows(want) and rows(got) == rows(want)


def test_suppress_stream_equals_batch_dedup(spark, staged):
    got = _run_to_memory(
        spark, sp.suppress_stream(sp.stream_transcripts(spark, staged)), "suppress_mem"
    )
    batch = spark.read.parquet(staged)
    want = batch.dropDuplicates(["conv_id", "text"])

    def keys(df):
        return sorted(map(tuple, df.select("conv_id", "text").collect()))

    assert want.count() < batch.count()  # the input has duplicates to drop
    assert keys(got) == keys(want)
