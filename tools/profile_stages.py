"""Stage-isolation profiler (guide §1.4): times each sub-stage of the
heavy bench queries with a noop sink, min-of-N in ONE process so the
numbers are comparable under the sandbox's bursty CPU steal.

Usage: python tools/profile_stages.py [rows] [reps]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from axosyslog_spark.operators import grouping  # noqa: E402
from axosyslog_spark.operators.parse import parse_header, parse_stage  # noqa: E402
from axosyslog_spark.operators.pdb_load import load_fixture  # noqa: E402
from axosyslog_spark.operators.enrich import enrich_tools  # noqa: E402
from axosyslog_spark.operators.route import flagship_route_spec, route_explode  # noqa: E402
from axosyslog_spark.plans.pipeline import run_pipeline  # noqa: E402
from axosyslog_spark.session import get_spark  # noqa: E402
from axosyslog_spark.sources.transcripts import generate_transcripts  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("profile", cores=cpus, shuffle_partitions=max(cpus, 8))
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    gen = generate_transcripts(spark, rows, max(rows // 200, 1),
                               skew_hot_convs=5, partitions=cpus * 4)
    gen.persist()
    gen.count()

    [rs] = load_fixture()
    pdb = rs.pattern_db()

    def timed(name, fn, warm=1):
        for _ in range(warm):
            fn()
        best = float("inf")
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            samples.append(round(dt, 3))
            best = min(best, dt)
        print(f"{name:38s} {best:7.3f}  {samples}", flush=True)

    spark.sparkContext.setJobDescription("scan only")
    timed("scan_only(noop gen)", lambda: noop(gen))

    spark.sparkContext.setJobDescription("parse_header")
    timed("parse_header", lambda: noop(parse_header(gen)))

    spark.sparkContext.setJobDescription("parse_stage")
    timed("parse_stage", lambda: noop(parse_stage(gen)))

    spark.sparkContext.setJobDescription("parse+enrich")
    timed("parse+enrich", lambda: noop(enrich_tools(parse_stage(gen), spark)))

    spark.sparkContext.setJobDescription("full pipeline routed")
    timed("pipeline_routed", lambda: noop(run_pipeline(spark, gen).routed))

    # patterndb decomposition (merged-tier internals, round 6)
    ph = parse_header(gen)

    spark.sparkContext.setJobDescription("pdb merged regex only")
    txt = F.col("body")
    from axosyslog_spark.operators.patterndb import _strip_framing_bytes, _HIT

    def pdb_regex():
        t = _strip_framing_bytes(txt)
        d = ph.withColumn("__t", t)
        if pdb._leaves:
            r = pdb._merged_result(F.col("__t"))
        else:  # flat ruleset: the two-pass tiers, as apply() runs them
            r = pdb._flat_result(F.col("__t"), pdb._flat_complete(F.col("__t")))
        d = d.withColumn("__r", r)
        noop(d.select("conv_id", F.col("__r").startswith(_HIT).alias("hit")))
    timed("pdb_merged_regex", pdb_regex)

    spark.sparkContext.setJobDescription("pdb idx only")

    def pdb_idx():
        d = pdb.apply(ph, text_col="body", with_class=True)
        noop(d.select("conv_id", "rule_id", "rule_class"))
    timed("pdb_apply(sel id+class)", pdb_idx)

    spark.sparkContext.setJobDescription("pdb apply full")
    timed("pdb_apply_full", lambda: noop(pdb.apply(ph, text_col="body", with_class=True)))

    # match fraction
    d = pdb.apply(ph, text_col="body", with_class=True)
    frac = d.groupBy("rule_id").count().collect()
    print("rule_id distribution:", sorted([(r["rule_id"] or "<null>", r["count"]) for r in frac]))

    gen.unpersist()


if __name__ == "__main__":
    main()
