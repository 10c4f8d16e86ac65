"""spark-submit entry point for the flagship pipeline.

Cluster usage (north_rule packaging):

    python tools/make_pyfiles.py    # builds dist/axosyslog_spark.zip (not committed)
    spark-submit --py-files dist/axosyslog_spark.zip \\
        axosyslog_spark/runner.py \\
        --input  s3://bucket/transcripts/      \\
        --output s3://bucket/routed/           \\
        --n-buckets 4096

Local smoke:

    python -m axosyslog_spark.runner --sf-dir /root/testdata/sf0.001 \\
        --output /tmp/routed_out --n-buckets 4

The job is idempotently resumable: re-submitting with the same
--output skips committed buckets (see checkpoint.py). On a cluster,
size --n-buckets so one bucket ≈ one executor-friendly unit of work
(10^12 turns / 4096 buckets ≈ 250M turns per bucket).
"""

from __future__ import annotations

import argparse
import sys


def build_session(local_cores: int | None):
    from pyspark.sql import SparkSession

    if local_cores:
        from axosyslog_spark.session import get_spark

        return get_spark("axosyslog_spark.runner", cores=local_cores)
    from axosyslog_spark.session import ENGINE_CONF

    # under spark-submit: the cluster's master and sizing, the engine's
    # settings
    spark = (
        SparkSession.builder.appName("axosyslog_spark.runner")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcript table path (parquet/iceberg dir)")
    src.add_argument("--sf-dir", help="testdata dir: synthesize transcripts from events.parquet")
    p.add_argument("--output", required=True, help="output dir (sinks + checkpoint)")
    p.add_argument("--n-buckets", type=int, default=16)
    p.add_argument("--run-id", default="run")
    p.add_argument("--config", default=None,
                   help="declarative pipeline config (JSON path; see "
                        "plans/config.py) — replaces the flagship pipeline")
    p.add_argument("--local-cores", type=int, default=None,
                   help="run on local[N] instead of the submitted master")
    args = p.parse_args(argv)

    spark = build_session(args.local_cores)
    from axosyslog_spark import checkpoint as ck
    from axosyslog_spark.plans.config import build_spec
    from axosyslog_spark.sources.transcripts import synthesize_transcripts

    if args.sf_dir:
        transcripts = synthesize_transcripts(spark, args.sf_dir)
    else:
        transcripts = spark.read.parquet(args.input)

    rep = ck.run_checkpointed(
        spark, transcripts, args.output,
        n_buckets=args.n_buckets, run_id=args.run_id,
        spec=build_spec(args.config) if args.config else None,  # None: the flagship
    )
    print(
        f"run_id={rep.run_id} processed={len(rep.processed_buckets)} "
        f"skipped={len(rep.skipped_buckets)} total_rows={rep.total_rows}"
    )
    lineage = ck.lineage_df(spark, args.output)
    lineage.orderBy("bucket").show(200, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
