"""End-to-end flagship pipeline on sf0.001: per-sink counts and routed
rows vs an independent pure-Python oracle (the light-framework analog:
golden routed-row equality per sink)."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from axosyslog_spark.operators.enrich import TOOL_DEFAULT, tool_lookup_rows
from axosyslog_spark.plans.pipeline import routed_output, run_pipeline
from axosyslog_spark.sources.transcripts import synthesize_transcripts

SF = "/root/testdata/sf0.001"
RFC = re.compile(
    r"^<(\d{1,3})>(\d) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) (.*)$"
)


def python_oracle(rows):
    """Independent reimplementation of parse→enrich→route in plain Python."""
    lookup = {t: (c, r, o) for t, c, r, o in tool_lookup_rows()}
    routed = []
    for row in rows:
        text = row["text"]
        m = RFC.match(text)
        if m and int(m.group(1)) <= 191:
            kind, pri = "syslog", int(m.group(1))
        elif text.startswith("{"):
            kind, pri = "json", 13
        elif re.match(r"^status=", text):
            kind, pri = "kv", 13
        else:
            kind, pri = "free", 13
        severity = pri % 8
        parse_ok = kind != "free"
        cat, risk, _owner = lookup.get(
            row["tool"],
            (TOOL_DEFAULT["tool_category"], TOOL_DEFAULT["risk_level"], TOOL_DEFAULT["owner"]),
        )
        m1 = severity <= 3
        m2 = row["role"] == "tool" and risk == "high"
        m3 = cat == "retrieval"
        m4 = not parse_ok
        sinks = []
        if m1:
            sinks.append("sink_errors")
        if m2:
            sinks.append("sink_high_risk")
        else:
            if m3:
                sinks.append("sink_retrieval")
            if m4:
                sinks.append("sink_unparsed")
            if not (m1 or m3 or m4):
                sinks.append("sink_default")
        for s in sinks:
            routed.append((s, row["conv_id"], row["turn_idx"], severity, cat, text))
    return sorted(routed)


@pytest.fixture(scope="module")
def result(spark):
    t = synthesize_transcripts(spark, SF)
    res = run_pipeline(spark, t)
    out = routed_output(res.routed)
    transcripts = [r.asDict() for r in t.collect()]
    routed = sorted(tuple(r) for r in out.collect())
    counts = {r.sink: r.n for r in res.counts.collect()}
    return transcripts, routed, counts


def test_routed_row_equality(result):
    transcripts, routed, _ = result
    expected = python_oracle(transcripts)
    assert len(routed) == len(expected)
    assert routed == expected


def test_per_sink_counts_exact(result):
    transcripts, _, counts = result
    expected: dict[str, int] = {}
    for s, *_ in python_oracle(transcripts):
        expected[s] = expected.get(s, 0) + 1
    assert counts == expected
    # every declared sink receives traffic at this sf
    assert set(counts) == {
        "sink_errors", "sink_high_risk", "sink_retrieval",
        "sink_unparsed", "sink_default",
    }


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.queries()).issuperset(set(e.oracle_sql()))


def test_json_rows_parse(result):
    transcripts, _, _ = result
    json_rows = [r for r in transcripts if r["text"].startswith("{")]
    assert json_rows
    for r in json_rows[:50]:
        json.loads(r["text"])  # synthesized JSON shape is valid JSON


def test_write_sinks_layout(spark, tmp_path):
    """write_sinks: one job, sink-partitioned files, per-turn order
    preserved inside each conversation cluster."""
    from axosyslog_spark.plans.pipeline import run_pipeline, write_sinks
    from axosyslog_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, "/root/testdata/sf0.001")
    res = run_pipeline(spark, t)
    out = str(tmp_path / "sinks")
    write_sinks(res.routed, out, n_partitions=4)

    back = spark.read.parquet(out)
    want = {r["sink"]: r["n"] for r in res.counts.collect()}
    got = {
        r["sink"]: r["n"]
        for r in back.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
    # routed-row equality: identical (sink, conv, turn, text) multiset
    a = sorted(
        (r["sink"], r["conv_id"], r["turn_idx"], r["text"])
        for r in res.routed.select("sink", "conv_id", "turn_idx", "text").collect()
    )
    b = sorted(
        (r["sink"], r["conv_id"], r["turn_idx"], r["text"])
        for r in back.select("sink", "conv_id", "turn_idx", "text").collect()
    )
    assert a == b


def test_each_aggregate_read_is_a_new_plan(spark):
    """run_pipeline memoizes the compile per frame, but every .counts /
    .histogram read builds a new groupBy: a collect() on a shared
    Dataset would reuse its executed shuffle and skip the map stage."""
    t = synthesize_transcripts(spark, SF)
    a, b = run_pipeline(spark, t), run_pipeline(spark, t)
    assert a.routed is b.routed
    assert a.histogram is not b.histogram
    assert a.counts is not a.counts
