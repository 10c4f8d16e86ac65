"""The workloads: what one timed pass runs and how it is checked.

Each pass goes through the program's public functions only. A pass
returns the outputs it observed; ``check`` compares them with the
DuckDB expectations and returns a list of mismatches (empty = correct).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import expected


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def synthetic_rules():
    """46 rules with distinct literal prefixes that never match the
    transcript bodies (the same set the repository's bench.py uses)."""
    from axosyslog_spark.operators.patterndb import PdbRule

    return [
        PdbRule(
            f"syn{i:02d}",
            f"svc-{i:02d} op=@ESTRING:op: @code=@NUMBER:code@ detail=@ANYSTRING:detail@",
        )
        for i in range(46)
    ]


def build_patterndb_50():
    """Fixture ruleset (4 rules) plus the 46 synthetic ones."""
    from axosyslog_spark.operators.patterndb import PatternDB
    from axosyslog_spark.operators.pdb_load import load_fixture

    [rs] = load_fixture()
    return PatternDB(list(rs.rules) + synthetic_rules())


def _sink_mismatches(got: dict, want: dict) -> list[str]:
    from axosyslog_spark.operators.route import flagship_route_spec

    bad = [
        f"sink {s}: got {got.get(s)} want {want.get(s, 0)}"
        for s in flagship_route_spec().sinks()
        if got.get(s) != want.get(s, 0)
    ]
    extra = set(want) - set(flagship_route_spec().sinks())
    if extra:
        bad.append(f"oracle sinks not in the route spec: {sorted(extra)}")
    return bad


@dataclass
class Workload:
    name: str
    turns: int
    convs: int
    hot_convs: int = 0

    def prepare(self, spark):
        """Load the workload's ruleset or lookup (part of set-up)."""
        from axosyslog_spark.operators.route import flagship_route_spec

        return flagship_route_spec()

    def expect(self, events_glob: str, temp_dir: str, threads: int, state) -> dict:
        return expected.routed_expectations(events_glob, temp_dir, threads)

    def before_timing(self, spark, data_dir: str, state) -> None:
        pass

    def after_timing(self) -> None:
        pass

    def run_pass(self, spark, data_dir: str, state) -> dict:
        raise NotImplementedError

    def check(self, got: dict, want: dict) -> list[str]:
        raise NotImplementedError


class RouteFanout(Workload):
    """synthesize → observed pipeline to a noop sink, then the histogram."""

    def run_pass(self, spark, data_dir, state):
        from axosyslog_spark.plans.pipeline import run_pipeline, run_pipeline_observed
        from axosyslog_spark.sources.transcripts import synthesize_transcripts

        t = synthesize_transcripts(spark, data_dir)
        routed, obs = run_pipeline_observed(spark, t, state)
        noop(routed)
        hist = run_pipeline(spark, t, state).histogram.collect()
        return {
            "sinks": dict(obs.get),
            "histogram": sorted(
                (r["sink"], r["severity"], r["tool_category"] or "", r["n"]) for r in hist
            ),
        }

    def check(self, got, want):
        bad = _sink_mismatches(got["sinks"], want["sink_counts"])
        if got["sinks"].get("__total") != sum(want["sink_counts"].values()):
            bad.append(f"routed total {got['sinks'].get('__total')}")
        if got["histogram"] != want["histogram"]:
            bad.append("histogram differs from the oracle")
        return bad


class Patterndb50(Workload):
    """parse_header → 50-rule PatternDB.apply over persisted transcripts."""

    def prepare(self, spark):
        return build_patterndb_50()

    def expect(self, events_glob, temp_dir, threads, state):
        return expected.patterndb_expectations(events_glob, temp_dir, threads, state)

    def before_timing(self, spark, data_dir, state):
        from axosyslog_spark.sources.transcripts import synthesize_transcripts

        self._base = synthesize_transcripts(spark, data_dir).persist()
        self._base.count()

    def after_timing(self):
        self._base.unpersist()

    def run_pass(self, spark, data_dir, state):
        from axosyslog_spark.operators.parse import parse_header

        out = state.apply(parse_header(self._base), text_col="body", with_class=True)
        rule_ids = sorted({r.rule_id for r in state.src_rules})
        obs = Observation("rule_counts")
        rid = F.col("rule_id")
        aggs = [
            F.sum(F.when(rid == r, 1).otherwise(0)).alias(f"r{k}")
            for k, r in enumerate(rule_ids)
        ] + [
            F.sum(F.when(rid.isNull(), 1).otherwise(0)).alias("unmatched"),
            F.count(F.lit(1)).alias("total"),
        ]
        noop(out.observe(obs, *aggs))
        m = obs.get
        counts = {r: m[f"r{k}"] for k, r in enumerate(rule_ids)}
        counts[None] = m["unmatched"]
        return {"rule_counts": counts, "total": m["total"]}

    def check(self, got, want):
        exp = want["rule_counts"]
        bad = [
            f"rule {r}: got {n} want {exp.get(r, 0)}"
            for r, n in got["rule_counts"].items()
            if n != exp.get(r, 0)
        ]
        missing = set(exp) - set(got["rule_counts"])
        if missing:
            bad.append(f"oracle rule ids unknown to the ruleset: {sorted(missing, key=str)}")
        if got["total"] != want["turns"]:
            bad.append(f"total {got['total']} want {want['turns']}")
        return bad


WORKLOADS = {
    w.name: w
    for w in (
        RouteFanout("route_fanout", turns=150_000, convs=750),
        # 5 hot conversations hold 30% of the rows: PatternDB is per-row
        # and does not see it, but the traced profile's window, grouping
        # and checkpoint layers do
        Patterndb50("patterndb_50", turns=150_000, convs=750, hot_convs=5),
    )
}
