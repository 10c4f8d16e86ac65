"""Declarative PipelineSpec compile + junction."""

from __future__ import annotations

from pyspark.sql import functions as F

from axosyslog_spark.operators.enrich import LookupSpec, tool_lookup_df
from axosyslog_spark.operators.patterndb import PdbRule
from axosyslog_spark.operators.route import RouteBranch, RouteSpec
from axosyslog_spark.plans.spec import AggSpec, PipelineSpec, junction
from axosyslog_spark.sources.transcripts import synthesize_transcripts

SF = "/root/testdata/sf0.001"


def test_pipeline_spec_compiles_and_runs(spark):
    spec = PipelineSpec(
        patterns=[
            PdbRule(
                "kv",
                "status=@ESTRING:pstatus: @latency_ms=@NUMBER:platency@ path=@ESTRING:ppath:@",
            )
        ],
        lookups=[
            LookupSpec(
                key="tool", db_key="tool",
                columns=("tool_category", "risk_level", "owner"),
                default={"tool_category": "unknown", "risk_level": "medium"},
                db=tool_lookup_df,
            )
        ],
        routes=RouteSpec(
            branches=(
                RouteBranch("sev_err", F.col("severity") <= 3),
                RouteBranch("classified", F.col("rule_id").isNotNull()),
                RouteBranch("other", None, fallback=True),
            )
        ),
        aggregates=[AggSpec(labels=["sink"]), AggSpec(labels=["sink", "severity"])],
    )
    t = synthesize_transcripts(spark, SF)
    res = spec.compile(spark, t)
    counts = {r.sink: r.n for r in res.aggregates["sink"].collect()}
    assert set(counts) == {"sev_err", "classified", "other"}
    assert sum(counts.values()) == res.routed.count()
    # patterndb fields present and typed
    row = res.parsed.filter(F.col("rule_id") == "kv").first()
    assert row.platency >= 1 and row.pstatus in ("ok", "error")
    hist = res.aggregates["sink_severity"]
    assert hist.columns == ["sink", "severity", "n"]


def test_junction_union(spark):
    a = spark.createDataFrame([(1, "x")], "id int, a string")
    b = spark.createDataFrame([(2, "y")], "id int, b string")
    out = junction(a, b)
    rows = {r.id: r.asDict() for r in out.collect()}
    assert rows[1]["a"] == "x" and rows[1]["b"] is None
    assert rows[2]["b"] == "y" and rows[2]["a"] is None


def test_pipeline_spec_with_template_strings(spark):
    """Routes and derived columns declared as TEMPLATE STRINGS — the
    reference-config shape ("${HOST}", filter conditions) compiles at
    plan time into the same column algebra."""
    spec = PipelineSpec(
        templates={
            "host_app": "${HOST:-nohost}/$(lowercase ${PROGRAM:-na})",
            "sev_bucket": '$(if ("${SEVERITY_NUM}" == "0") crit other)',
        },
        routes=RouteSpec(
            branches=(
                RouteBranch("sink_err", '("${status}" == "error")'),
                RouteBranch("sink_rest", None, fallback=True),
            )
        ),
        aggregates=[AggSpec(labels=["sink", "sev_bucket"])],
    )
    res = spec.compile(spark, synthesize_transcripts(spark, SF))
    routed = res.routed.select("sink", "host_app", "sev_bucket", "status").collect()
    assert routed, "routed frame is empty"
    for r in routed:
        if r["sink"] == "sink_err":
            assert r["status"] == "error"
        else:
            assert r["status"] != "error"
        assert "/" in r["host_app"]
    agg = res.aggregates["sink_sev_bucket"]
    assert agg.count() > 0
