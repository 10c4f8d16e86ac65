"""Declarative JSON config -> PipelineSpec (the cfg-tree compile
analog), end-to-end on the sf0.001 transcripts."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from axosyslog_spark.plans.config import ConfigError, build_spec, compile_config
from axosyslog_spark.sources.transcripts import synthesize_transcripts

SF = "/root/testdata/sf0.001"

CONFIG = {
    "patterns": {"xml_fixture": "transcripts.pdb"},
    "pattern_source": "body",
    "lookups": [
        {
            "key": "tool",
            "db_key": "tool",
            "columns": ["tool_category", "risk_level"],
            "default": {"tool_category": "unknown", "risk_level": "medium"},
            "rows": [
                {"tool": "tool_00", "tool_category": "retrieval", "risk_level": "low"},
                {"tool": "tool_01", "tool_category": "codegen", "risk_level": "high"},
            ],
        }
    ],
    "templates": {"host_app": "${HOST:-nohost}/$(lowercase ${PROGRAM:-na})"},
    "filterx": "$is_err = $severity <= 3;",
    "routes": [
        {"sink": "sink_err", "condition": '("${is_err}" == "true")'},
        {"sink": "sink_kv", "condition": '("${rule_id}" == "kv_retry")', "final": True},
        {"sink": "sink_rest", "fallback": True},
    ],
    "aggregates": [{"labels": ["sink", "rule_class"], "counter": "n"}],
}


def test_config_end_to_end(spark):
    t = synthesize_transcripts(spark, SF)
    res = compile_config(spark, t, CONFIG)
    routed = res.routed
    rows = routed.select("sink", "is_err", "rule_id", "host_app").collect()
    assert rows
    sinks = {r["sink"] for r in rows}
    assert sinks == {"sink_err", "sink_kv", "sink_rest"}
    for r in rows:
        if r["sink"] == "sink_err":
            assert r["is_err"] is True
        if r["sink"] == "sink_kv":
            assert r["rule_id"] == "kv_retry"
        assert "/" in r["host_app"]
    agg = res.aggregates["sink_rule_class"]
    assert agg.filter(F.col("sink") == "sink_err").count() > 0


def test_config_json_string_and_counts_match_direct(spark):
    t = synthesize_transcripts(spark, SF)
    a = compile_config(spark, t, CONFIG).routed.groupBy("sink").count().collect()
    b = compile_config(spark, t, json.dumps(CONFIG)).routed.groupBy("sink").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_inline_rules_and_csv_lookup(spark, tmp_path):
    csv = tmp_path / "dim.csv"
    csv.write_text("k,grp\nalpha,g1\nbeta,g2\n")
    cfg = {
        "header_parse": False,
        "patterns": {
            "rules": [
                {"id": "kv", "pattern": "k=@ESTRING:k: @v=@NUMBER:v@",
                 "class": "system", "values": {"vk": "${k}/${v}"}},
            ]
        },
        "pattern_source": "text",
        "lookups": [
            {"key": "k", "db_key": "k", "columns": ["grp"],
             "default": {"grp": "g0"}, "csv": str(csv)}
        ],
        "routes": [
            {"sink": "s1", "condition": '("${grp}" == "g1")'},
            {"sink": "s2", "fallback": True},
        ],
    }
    df = spark.createDataFrame(
        [("k=alpha v=1",), ("k=beta v=2",), ("k=gamma v=3",)], "text string"
    )
    res = compile_config(spark, df, cfg)
    got = {r["k"]: (r["sink"], r["grp"], r["vk"]) for r in res.routed.collect()}
    assert got == {
        "alpha": ("s1", "g1", "alpha/1"),
        "beta": ("s2", "g2", "beta/2"),
        "gamma": ("s2", "g0", "gamma/3"),
    }


def test_config_errors():
    with pytest.raises(ConfigError, match="routes"):
        build_spec({"patterns": {"rules": []}})
    with pytest.raises(ConfigError, match="xml"):
        build_spec({"patterns": {}, "routes": [{"sink": "s", "fallback": True}]})
    with pytest.raises(ConfigError, match="csv or rows"):
        build_spec(
            {
                "routes": [{"sink": "s", "fallback": True}],
                "lookups": [{"key": "k", "db_key": "k", "columns": ["c"]}],
            }
        )
    with pytest.raises(ConfigError, match="not found"):
        build_spec("/nope/missing.json")


def test_runner_with_config(spark, tmp_path):
    """--config end-to-end through the checkpointed runner: custom
    sinks appear in lineage, resume skips committed buckets."""
    import json as _json

    from axosyslog_spark import checkpoint as ck
    from axosyslog_spark.plans.config import build_spec

    cfg = {
        "routes": [
            {"sink": "s_tool", "condition": '("${role}" == "tool")'},
            {"sink": "s_rest", "fallback": True},
        ],
    }
    spec = build_spec(_json.dumps(cfg))
    out = str(tmp_path / "cfg_out")
    t = synthesize_transcripts(spark, SF)
    rep = ck.run_checkpointed(spark, t, out, n_buckets=3, spec=spec)
    assert len(rep.processed_buckets) == 3
    lineage = {r["bucket"]: r for r in ck.lineage_df(spark, out).collect()}
    assert all("n_s_tool" in r.asDict() for r in lineage.values())
    total = sum(r["total"] for r in lineage.values())
    assert total == ck.read_output(spark, out).count()
    # resume: nothing to do
    rep2 = ck.run_checkpointed(spark, t, out, n_buckets=3, spec=spec)
    assert rep2.processed_buckets == [] and len(rep2.skipped_buckets) == 3
