"""metrics-probe() / stats analogs: labeled counters as aggregates.

Reference: modules/metrics-probe/metrics-probe.c:93-110 (counter keyed
by label templates, increment() template) and lib/stats/ (per-element
counters). In batch Spark a counter family is a groupBy over the label
columns — map-side partial aggregation makes this a single cheap
shuffle of pre-aggregated partials, linear at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from axosyslog_spark.functions.literals import per_jvm


def metrics_probe(
    df: DataFrame, labels: list[str], counter_name: str = "n"
) -> DataFrame:
    """Counter keyed by label columns, incremented by 1 per row."""
    return df.groupBy(*labels).agg(F.sum(F.lit(1)).alias(counter_name))


def sink_counters(sinks: list[str]) -> list[Column]:
    """Per-sink delivered-row counters plus the routed-row total
    (``__total``), as aggregates for ``DataFrame.observe``: the
    per-path ingress/egress counters the reference keeps on every log
    path (lib/cfg-tree.c:1087-1101), riding whatever action consumes
    the routed frame instead of a second scan. Counts, not sums, so an
    empty input (a bucket no conversation hashed into) reports 0, not
    NULL. Built once per JVM and sink list."""
    return list(_sink_counters(tuple(sinks)))


@per_jvm
def _sink_counters(sinks: tuple[str, ...]) -> tuple[Column, ...]:
    return (
        *[F.count(F.when(F.col("sink") == s, 1)).alias(s) for s in sinks],
        F.count(F.lit(1)).alias("__total"),
    )


@per_jvm
def _row_count() -> Column:
    """The ``n`` counter of sink_counts and sink_histogram."""
    return F.count(F.lit(1)).alias("n")


def _sorted_small(agg: DataFrame, *keys: str) -> DataFrame:
    """Sort a bounded aggregate (at most #sinks x 8 severities x
    #categories rows) inside ONE partition. orderBy would plan a range
    exchange, whose boundaries cost a sampling job per action; with
    the JVM-local tool registry (operators/enrich) the route_fanout
    histogram collect runs 3 Spark jobs instead of 5. Same row order
    as orderBy (ascending, NULLs first)."""
    return agg.coalesce(1).sortWithinPartitions(*keys)


def sink_counts(routed: DataFrame) -> DataFrame:
    """Per-sink delivered-row counts — the exact per-sink count gate."""
    return _sorted_small(
        routed.groupBy("sink").agg(_row_count()), "sink"
    )


def sink_histogram(routed: DataFrame) -> DataFrame:
    """(sink, severity, tool_category) histogram (FIXTURES.md F6)."""
    keys = ("sink", "severity", "tool_category")
    return _sorted_small(
        routed.groupBy(*keys).agg(_row_count()), *keys
    )
