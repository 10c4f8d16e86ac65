"""Per-layer profile for the traced run (layer = module).

Self times are differences between cumulative noop-sink prefixes of the
flagship pipeline (scan → +parse_header → +kv/json → +enrich → +route
→ +observe / +histogram), each under its own ``layer:<name>`` job
group; PatternDB, grouping and checkpoint run over the same input.
Executor CPU, GC and shuffle bytes come from the event log, per group.
The profile is the same on every workload; only the input differs.
Each layer pass runs once, after the workload's own passes have warmed
the JVM: a self time below the run-to-run noise (~0.5 s) can come out
negative, and on patterndb_50 the layers after ``parse_header`` also
carry their first compile.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import tracing
from perfbench.workloads import build_patterndb_50, noop

N_BUCKETS = 4
HISTOGRAM_COLS = ("sink", "severity", "tool_category")  # metrics.sink_histogram keys
GROUPING_COLS = ("conv_id", "turn_idx", "role", "ts")   # salted_ordered_agg defaults


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Profile:
    """The layer passes of one traced run over one input directory."""

    def __init__(self, spark, tracer: tracing.Tracer, data_dir: str, work: str):
        from axosyslog_spark.operators.route import flagship_route_spec

        self.spark, self.tracer = spark, tracer
        self.data_dir, self.work = data_dir, work
        self.spec = flagship_route_spec()
        self.counts: dict = {}

    def src(self):
        from axosyslog_spark.sources.transcripts import synthesize_transcripts

        return synthesize_transcripts(self.spark, self.data_dir)

    def _layer(self, name: str):
        return self.tracer.span(f"layer:{name}", group=f"layer:{name}")

    def patterndb(self) -> None:
        """Build the 50-rule PatternDB, then apply it twice: the first
        pass in a fresh JVM pays codegen and JIT of the wide methods.
        The counts behind the ratios ride the first pass (``observe``),
        whose time only feeds ``patterndb.cold_extra_s``."""
        from axosyslog_spark.operators.enrich import tool_lookup_rows
        from axosyslog_spark.operators.parse import parse_header

        with self.tracer.span("patterndb.build"):
            pdb = build_patterndb_50()
        tool = F.col("tool")
        lookup = [r[0] for r in tool_lookup_rows()]
        obs = Observation("layer_counts")
        with self._layer("patterndb_first"):
            noop(
                pdb.apply(parse_header(self.src()), text_col="body", with_class=True).observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.col("parse_ok").cast("int")).alias("parse_ok"),
                    F.sum((tool != "").cast("int")).alias("tool_rows"),
                    F.sum(((tool != "") & tool.isin(lookup)).cast("int")).alias("tool_hits"),
                    F.count("rule_id").alias("pdb_matched"),
                )
            )
        self.counts.update(obs.get)
        with self._layer("patterndb"):
            noop(pdb.apply(parse_header(self.src()), text_col="body", with_class=True))

    def pipeline(self) -> None:
        """Cumulative noop-sink prefixes, then observe, histogram, grouping."""
        from axosyslog_spark.operators.enrich import enrich_tools
        from axosyslog_spark.operators.grouping import salted_ordered_agg
        from axosyslog_spark.operators.parse import parse_header, parse_stage
        from axosyslog_spark.operators.route import route_explode
        from axosyslog_spark.plans.pipeline import run_pipeline, run_pipeline_observed

        spark, spec = self.spark, self.spec
        prefixes = {
            "transcripts": lambda t: t,
            "parse_header": parse_header,
            "parse_kvjson": parse_stage,
            "enrich": lambda t: enrich_tools(parse_stage(t), spark),
            "route": lambda t: route_explode(enrich_tools(parse_stage(t), spark), spec),
        }
        for name, frame in prefixes.items():
            with self._layer(name):
                noop(frame(self.src()))
        with self._layer("metrics_observe"):
            routed, obs = run_pipeline_observed(spark, self.src(), spec)
            noop(routed)
        # an aggregate reads only its own columns, and Catalyst then drops
        # the unused turn_idx window with its shuffle: each aggregate's
        # base prefix writes exactly the columns the aggregate reads
        with self._layer("metrics_histogram_input"):
            noop(run_pipeline(spark, self.src(), spec).routed.select(*HISTOGRAM_COLS))
        with self._layer("metrics_histogram"):
            run_pipeline(spark, self.src(), spec).histogram.collect()
        with self._layer("grouping_input"):
            noop(self.src().select(*GROUPING_COLS))
        with self._layer("grouping"):
            noop(salted_ordered_agg(self.src()))
        self.counts.update(routed_rows=obs.get["__total"], fallback_rows=obs.get["sink_default"])

    def checkpoint(self) -> None:
        """Stage, run, read back and resume, each a layer of its own."""
        from axosyslog_spark import checkpoint

        spark, ck = self.spark, os.path.join(self.work, "ckpt-trace")
        with self._layer("checkpoint_stage"):
            checkpoint.stage_input(self.src(), ck, N_BUCKETS)
        with self._layer("checkpoint_run"):
            checkpoint.run_checkpointed(spark, self.src(), ck, n_buckets=N_BUCKETS, spec=self.spec)
        with self._layer("checkpoint_read"):
            noop(checkpoint.read_output(spark, ck))
        with self._layer("checkpoint_resume"):
            resumed = checkpoint.run_checkpointed(spark, self.src(), ck, n_buckets=N_BUCKETS, spec=self.spec)
        self.counts.update(
            bucket_walls=[r["wall_secs"] for r in checkpoint.lineage_df(spark, ck).collect()],
            # staged input + per-bucket output + the checkpoint log
            bytes_written=sum(
                os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(ck) for f in files
            ),
            resumed_buckets=len(resumed.processed_buckets),
        )


def derive(tracer: tracing.Tracer, groups: dict[str, dict], counts: dict) -> dict:
    """Per-layer metrics from the spans, the event-log groups and the counts."""

    def wall(name: str) -> float:
        [seconds] = tracer.durations(f"layer:{name}")
        return seconds

    def group(name: str, key: str) -> float:
        return groups.get(f"layer:{name}", {}).get(key, 0)

    def task_skew(group: str) -> float:
        skews = [
            max(ms) / statistics.median(ms)
            for ms in groups.get(f"layer:{group}", {}).get("stage_run_ms", {}).values()
            if len(ms) >= 2 and statistics.median(ms) > 0
        ]
        return max(skews, default=1.0)

    walls = counts["bucket_walls"]
    rows = counts["rows"]
    return {
        "transcripts.self_s": wall("transcripts"),
        "transcripts.cpu_s": group("transcripts", "cpu_s"),
        "transcripts.shuffle_write_bytes": group("transcripts", "shuffle_write_bytes"),
        "transcripts.rows_out": rows,
        "parse.header_self_s": wall("parse_header") - wall("transcripts"),
        "parse.kvjson_self_s": wall("parse_kvjson") - wall("parse_header"),
        "parse.cpu_s": group("parse_kvjson", "cpu_s") - group("transcripts", "cpu_s"),
        "parse.gc_s": group("parse_kvjson", "gc_s") - group("transcripts", "gc_s"),
        "parse.ok_ratio": _ratio(counts["parse_ok"], rows),
        "enrich.self_s": wall("enrich") - wall("parse_kvjson"),
        "enrich.hit_ratio": _ratio(counts["tool_hits"], counts["tool_rows"]),
        "route.self_s": wall("route") - wall("enrich"),
        "route.fanout_ratio": _ratio(counts["routed_rows"], rows),
        "route.fallback_ratio": _ratio(counts["fallback_rows"], rows),
        "metrics.observe_s": wall("metrics_observe") - wall("route"),
        "metrics.histogram_self_s": wall("metrics_histogram") - wall("metrics_histogram_input"),
        "metrics.shuffle_write_bytes": group("metrics_histogram", "shuffle_write_bytes")
        - group("metrics_histogram_input", "shuffle_write_bytes"),
        "patterndb.build_s": tracer.durations("patterndb.build")[0],
        "patterndb.self_s": wall("patterndb") - wall("parse_header"),
        "patterndb.cpu_s": group("patterndb", "cpu_s") - group("parse_header", "cpu_s"),
        "patterndb.cold_extra_s": wall("patterndb_first") - wall("patterndb"),
        "patterndb.match_ratio": _ratio(counts["pdb_matched"], rows),
        "grouping.self_s": wall("grouping") - wall("grouping_input"),
        "grouping.shuffle_write_bytes": group("grouping", "shuffle_write_bytes")
        - group("grouping_input", "shuffle_write_bytes"),
        "grouping.task_skew": task_skew("grouping"),
        "checkpoint.stage_s": wall("checkpoint_stage"),
        "checkpoint.bucket_s_max": max(walls),
        "checkpoint.bucket_skew": _ratio(max(walls), statistics.median(walls)),
        "checkpoint.bytes_written": counts["bytes_written"],
        "checkpoint.read_back_s": wall("checkpoint_read"),
        "checkpoint.resume_s": wall("checkpoint_resume"),
    }


def bases(counts: dict, groups: dict[str, dict]) -> dict:
    """The denominators printed next to every ratio."""
    return {
        "parse.ok_ratio": f"{counts['parse_ok']}/{counts['rows']} rows",
        "enrich.hit_ratio": f"{counts['tool_hits']}/{counts['tool_rows']} rows with a tool",
        "route.fanout_ratio": f"{counts['routed_rows']}/{counts['rows']} input turns",
        "route.fallback_ratio": f"{counts['fallback_rows']}/{counts['rows']} input turns",
        "patterndb.match_ratio": f"{counts['pdb_matched']}/{counts['rows']} rows",
        "grouping.task_skew": f"max/median task run time over "
        f"{groups.get('layer:grouping', {}).get('tasks', 0)} tasks",
        "checkpoint.bucket_skew": f"max/median of {len(counts['bucket_walls'])} bucket wall_secs",
    }
