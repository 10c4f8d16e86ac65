"""The flagship is a PipelineSpec: its compiled plan is the hand-built
parse → enrich → route chain, and the one per-sink counters function
(operators/metrics.sink_counters) agrees with an independent
groupBy("sink") in the observed, checkpointed and config-spec runs."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import SF0001 as SF
from axosyslog_spark import checkpoint as ck
from axosyslog_spark.operators.enrich import LookupSpec, enrich_tools
from axosyslog_spark.operators.parse import parse_stage
from axosyslog_spark.operators.route import flagship_route_spec, route_explode
from axosyslog_spark.plans.config import build_spec
from axosyslog_spark.plans.pipeline import run_pipeline, run_pipeline_observed
from axosyslog_spark.plans.spec import PipelineSpec, flagship_spec
from axosyslog_spark.sources.transcripts import synthesize_transcripts


def _plan(df) -> str:
    """Optimized plan with expression ids and CSE names normalized."""
    p = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"_common_expr_\d+", "_common_expr_N", re.sub(r"#\d+L?", "#", p))


def _groupby_sink(df) -> dict:
    return {r["sink"]: r["n"] for r in df.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()}


def test_flagship_plan_is_the_hand_built_chain(spark):
    """perfbench's traced ``route`` layer times this hand-built chain;
    the flagship spec must compile to the same plan."""
    t = synthesize_transcripts(spark, SF)
    hand = _plan(route_explode(enrich_tools(parse_stage(t), spark), flagship_route_spec()))
    assert _plan(flagship_spec().compile(spark, t).routed) == hand
    assert _plan(run_pipeline(spark, t).routed) == hand


def test_sink_counters_equal_groupby(spark, tmp_path):
    t = synthesize_transcripts(spark, SF)
    sinks = flagship_route_spec().sinks()
    by_sink = _groupby_sink(run_pipeline(spark, t).routed)
    want = {s: by_sink.get(s, 0) for s in sinks}
    assert set(by_sink) <= set(sinks) and sum(want.values()) > 0

    routed, obs = run_pipeline_observed(spark, t)
    routed.write.format("noop").mode("overwrite").save()
    got = dict(obs.get)
    assert got.pop("__total") == sum(want.values())
    assert got == want

    out = str(tmp_path / "ck")
    ck.run_checkpointed(spark, t, out, n_buckets=3)
    recs = list(ck.committed_buckets(out).values())
    assert sum(r["total"] for r in recs) == sum(want.values())
    assert {s: sum(r["sink_counts"][s] for r in recs) for s in sinks} == want


def test_checkpointed_config_spec_with_rows_lookup(spark, tmp_path):
    spec = build_spec(
        {
            "lookups": [
                {
                    "key": "tool", "db_key": "tool", "columns": ["grp"],
                    "default": {"grp": "none"},
                    "rows": [{"tool": "tool_00", "grp": "a"}, {"tool": "tool_01", "grp": "b"}],
                }
            ],
            "routes": [
                {"sink": "s_a", "condition": '("${grp}" == "a")'},
                {"sink": "s_b", "condition": '("${grp}" == "b")'},
                {"sink": "s_rest", "fallback": True},
            ],
        }
    )
    t = synthesize_transcripts(spark, SF)
    out = str(tmp_path / "cfg")
    rep = ck.run_checkpointed(spark, t, out, n_buckets=3, spec=spec)
    assert rep.processed_buckets == [0, 1, 2]
    lineage = ck.lineage_df(spark, out)
    sums = lineage.agg(*[F.sum(f"n_{s}").alias(s) for s in spec.routes.sinks()]).first()
    got = {s: sums[s] for s in spec.routes.sinks()}
    assert got == _groupby_sink(ck.read_output(spark, out))
    assert got["s_a"] > 0 and got["s_b"] > 0 and got["s_rest"] > 0


def test_lookup_without_db_is_rejected(spark):
    spec = PipelineSpec(
        routes=flagship_route_spec(),
        lookups=[LookupSpec(key="tool", db_key="tool", columns=("tool_category",))],
    )
    with pytest.raises(ValueError, match="no db loader"):
        spec.compile(spark, synthesize_transcripts(spark, SF))
