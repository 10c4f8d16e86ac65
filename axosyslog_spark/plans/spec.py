"""Declarative pipeline spec — the config-compile analog.

The reference compiles a syslog-ng.conf into a pipe graph
(lib/cfg-tree.c:982-1170). Our equivalent: a PipelineSpec dataclass,
assembled in Python or built from a JSON document (plans/config.py);
compile() is the one place that chains parse → PatternDB → enrich →
route into DataFrame transformations. No engine state — the spec,
lookup loaders included, is the whole "config". The flagship job is
itself a spec (flagship_spec), compiled by the batch, streaming and
checkpointed runners alike.

Example ("switch from the reference" shape):

    spec = PipelineSpec(
        patterns=[PdbRule("login", "Accepted @ESTRING:method: @...")],
        lookups=[LookupSpec(key="tool", db_key="tool",
                            columns=("tool_category", "risk_level"),
                            default={"tool_category": "unknown"},
                            db=lambda spark: spark.read.parquet(dim_path))],
        routes=RouteSpec(branches=(
            RouteBranch("errors", F.col("severity") <= 3),
            RouteBranch("rest", None, fallback=True),
        )),
        aggregates=[AggSpec(labels=["sink", "severity"])],
    )
    result = spec.compile(spark, transcripts)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession

from axosyslog_spark.operators.enrich import TOOL_LOOKUP, LookupSpec, enrich
from axosyslog_spark.operators.metrics import metrics_probe, sink_counts, sink_histogram
from axosyslog_spark.operators.parse import parse_stage
from axosyslog_spark.operators.patterndb import PatternDB, PdbRule
from axosyslog_spark.operators.route import (
    RouteSpec,
    flagship_route_spec,
    route_explode,
)


@dataclass(frozen=True)
class AggSpec:
    labels: list[str]
    counter_name: str = "n"


@dataclass
class PipelineSpec:
    """parse → (patterndb) → enrich* → route → aggregate*."""

    routes: RouteSpec
    patterns: list[PdbRule] = field(default_factory=list)
    pattern_source_col: str = "body"
    lookups: list[LookupSpec] = field(default_factory=list)
    aggregates: list[AggSpec] = field(default_factory=list)
    header_parse: bool = True
    # derived columns from template STRINGS ("${HOST} $(fn ...)"),
    # compiled once at plan time; available to routes and aggregates
    templates: dict[str, str] = field(default_factory=dict)
    # a filterx {} block applied after enrich/templates, before routing
    filterx_block: str | None = None

    @cached_property
    def pattern_db(self) -> PatternDB:
        """The compiled ruleset, one per spec: its apply plans are
        memoized on the instance, so every compile reuses them. Built
        at the first compile; rules changed after it need a new spec."""
        return PatternDB(self.patterns)

    def compile(self, spark: SparkSession, transcripts: DataFrame) -> "CompiledPipeline":
        df = parse_stage(transcripts) if self.header_parse else transcripts
        if self.patterns:
            df = self.pattern_db.apply(
                df,
                text_col=self.pattern_source_col,
                with_class=any(r.rule_class for r in self.patterns),
                with_tags=any(r.tags for r in self.patterns),
            )
        for lookup in self.lookups:
            if lookup.db is None:
                raise ValueError(f"lookup {lookup.key!r} has no db loader")
            df = enrich(df, lookup.db(spark), lookup)
        if self.templates:
            from axosyslog_spark.functions.template_compiler import (
                TemplateContext,
                compile_template,
                parsed_template_context,
            )

            ctx = (
                parsed_template_context(field_fallback=True)
                if self.header_parse
                else TemplateContext(field_fallback=True)
            )
            df = df.withColumns(
                {name: compile_template(t, ctx) for name, t in self.templates.items()}
            )
        if self.filterx_block:
            from axosyslog_spark.functions.filterx_lang import filterx

            df = filterx(df, self.filterx_block)
        routed = route_explode(df, self.routes)
        aggs = {
            "_".join(a.labels): metrics_probe(routed, a.labels, counter_name=a.counter_name)
            for a in self.aggregates
        }
        return CompiledPipeline(parsed=df, routed=routed, aggregates=aggs)


def flagship_spec(routes: RouteSpec | None = None) -> PipelineSpec:
    """The flagship job (FIXTURES.md F2/F3): header parse, the tool
    registry lookup, then ``routes`` (default: the F3 route fixture)."""
    return PipelineSpec(routes=routes or flagship_route_spec(), lookups=[TOOL_LOOKUP])


@dataclass
class CompiledPipeline:
    parsed: DataFrame
    routed: DataFrame          # exploded (sink, …) frame
    aggregates: dict[str, DataFrame]
    # a new aggregate per read (route_fanout reads only the histogram):
    # the compile is memoized per frame, and a shared Dataset would
    # reuse its executed shuffle on a second collect()
    # per-sink counts, and (sink, severity, tool_category, n)
    counts = property(lambda self: sink_counts(self.routed))
    histogram = property(lambda self: sink_histogram(self.routed))


def junction(*frames: DataFrame) -> DataFrame:
    """junction { channel {...} ... } — parallel branches rejoined
    (lib/cfg-tree.c:1188-1287): union by column name."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out
