"""Partition-level checkpointing: idempotent, resumable pipeline runs.

Reference analog: sources persist bookmarks (byte offsets) in
persist-state so a restart resumes exactly where it stopped
(lib/persist-state.h:92-115, lib/ack-tracker/bookmark.h:38); delivery
is made reliable by ACK windows (lib/logpipe.h:119-169). The batch
equivalent per SURVEY.md §2.9: **all-or-nothing partition writes** —
the unit of progress is a deterministic input bucket, and a bucket is
either fully committed (checkpoint row exists) or will be re-processed
from scratch on the next run.

Mechanics:
  1. the input is staged ONCE, hash-partitioned by
     ``bucket = pmod(xxhash64(conv_id), n_buckets)`` and written
     ``partitionBy(bucket)`` — on a production Iceberg table this
     staging step does not exist because the table is already
     partitioned/bucketed by conversation; the per-bucket read below
     is then a pure partition-prune.
  2. per bucket: run the pipeline on that bucket only, write the
     routed output to ``out/bucket=<b>``, and only then append a
     checkpoint record carrying the per-bucket lineage: row counts
     per sink, total, an order-insensitive content hash of the routed
     rows, and wall time. All lineage metrics ride the SAME pass as
     the sink write (``observe``) — zero extra scans.
  3. a re-run skips every bucket with a committed checkpoint record
     (idempotent resume); a bucket interrupted mid-write is simply
     overwritten because its record was never appended.

The checkpoint store is a JSON-lines file under the output directory
(driver-local append + fsync). On a multi-executor cluster this would
be a transactional metadata table (Iceberg snapshot / Delta commit
log); the record schema is identical.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from axosyslog_spark.operators.metrics import sink_counters
from axosyslog_spark.operators.route import RouteSpec
from axosyslog_spark.plans.spec import PipelineSpec, flagship_spec


class InjectedFailure(RuntimeError):
    """Raised by the test harness to simulate a mid-run crash."""


@dataclass
class RunReport:
    run_id: str
    processed_buckets: list[int]
    skipped_buckets: list[int]
    total_rows: int


def _ckpt_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_checkpoint.jsonl")


def committed_buckets(out_dir: str) -> dict[int, dict]:
    """bucket -> checkpoint record, for all committed buckets."""
    path = _ckpt_path(out_dir)
    records: dict[int, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    rec = json.loads(line)
                    records[rec["bucket"]] = rec
    return records


def _append_checkpoint(out_dir: str, rec: dict) -> None:
    with open(_ckpt_path(out_dir), "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")
        f.flush()
        os.fsync(f.fileno())


def stage_input(
    transcripts: DataFrame, out_dir: str, n_buckets: int
) -> str:
    """Stage the input hash-partitioned by conversation bucket.

    Idempotent: skipped when the staging marker exists. In production
    the source table is already bucket-partitioned and this is a no-op.
    """
    staged = os.path.join(out_dir, "_staged")
    marker = os.path.join(staged, "_STAGED_OK")
    if os.path.exists(marker):
        # a resume with a different n_buckets would silently skip (or
        # double-process) buckets — the marker records the staging
        # geometry and a mismatch is a hard error, never a resume
        with open(marker) as f:
            raw = f.read()
        try:
            meta = json.loads(raw or "{}")
        except ValueError:  # pre-versioned marker ("ok"): geometry unknown
            meta = {}
        if meta.get("n_buckets") != n_buckets:
            raise ValueError(
                f"staged input at {staged} was built with "
                f"n_buckets={meta.get('n_buckets')}, refusing to resume "
                f"with n_buckets={n_buckets}; use a fresh out_dir"
            )
        return staged
    (
        transcripts.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staged)
    )
    with open(marker, "w") as f:
        f.write(json.dumps({"n_buckets": n_buckets}))
    return staged


def run_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    spec: PipelineSpec | RouteSpec | None = None,
    run_id: str = "run",
    fail_after_buckets: int | None = None,
) -> RunReport:
    """Execute a pipeline bucket-by-bucket with checkpoints.

    ``spec`` is the pipeline to run (e.g. a config's ``build_spec``);
    a RouteSpec, or None, means the flagship with those routes. Its
    sinks name the per-sink lineage counters.
    ``fail_after_buckets`` injects a crash after K commits (tests).
    """
    if not isinstance(spec, PipelineSpec):
        spec = flagship_spec(spec)
    sinks = spec.routes.sinks()
    os.makedirs(out_dir, exist_ok=True)
    staged = stage_input(transcripts, out_dir, n_buckets)

    # one read of the staged table for every bucket left to run: its
    # schema is inferred once, and each bucket's filter prunes to
    # bucket=b files
    staged_df = None
    done = committed_buckets(out_dir)
    processed: list[int] = []
    skipped = sorted(done)
    total_rows = sum(r["total"] for r in done.values())

    for b in range(n_buckets):
        if b in done:
            continue
        t0 = time.perf_counter()
        if staged_df is None:
            staged_df = spark.read.parquet(staged)
        part = staged_df.filter(F.col("bucket") == b).drop("bucket")
        routed = spec.compile(spark, part).routed
        obs = Observation()
        # order-insensitive content hash of the routed rows: the
        # per-bucket lineage fingerprint (resume equality evidence);
        # XOR never overflows, and the row count alongside catches
        # the even-duplicate blind spot
        rows_hash = F.expr("bit_xor(xxhash64(sink, conv_id, turn_idx, text))")
        aggs = sink_counters(sinks) + [rows_hash.alias("rows_hash")]
        routed.observe(obs, *aggs).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"bucket={b}")
        )
        m = obs.get
        rec = {
            "run_id": run_id,
            "bucket": b,
            "status": "committed",
            "total": int(m["__total"]),
            "rows_hash": int(m["rows_hash"]) if m["rows_hash"] is not None else 0,
            "sink_counts": {s: int(m[s]) for s in sinks},
            "wall_secs": round(time.perf_counter() - t0, 3),
        }
        _append_checkpoint(out_dir, rec)
        processed.append(b)
        total_rows += rec["total"]
        if fail_after_buckets is not None and len(processed) >= fail_after_buckets:
            raise InjectedFailure(f"injected crash after {fail_after_buckets} buckets")

    return RunReport(run_id, processed, skipped, total_rows)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of all COMMITTED buckets (uncommitted partials excluded)."""
    done = sorted(committed_buckets(out_dir))
    paths = [os.path.join(out_dir, f"bucket={b}") for b in done]
    if not paths:
        raise ValueError(f"no committed buckets under {out_dir}")
    return spark.read.parquet(*paths)


def lineage_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """The per-partition lineage/metrics table (stats-counter analog)."""
    recs = [
        {
            "run_id": r["run_id"],
            "bucket": b,
            "status": r["status"],
            "total": r["total"],
            "rows_hash": r["rows_hash"],
            "wall_secs": r["wall_secs"],
            **{f"n_{k}": v for k, v in r["sink_counts"].items()},
        }
        for b, r in sorted(committed_buckets(out_dir).items())
    ]
    return spark.createDataFrame(recs)
