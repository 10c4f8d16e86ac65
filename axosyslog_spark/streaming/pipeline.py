"""Streaming pipeline: the flagship PipelineSpec compiled over
readStream, plus watermark/window/session/stateful operators.

Mappings (SURVEY.md §2.9):
  - timer wheel clamped to msg time (correlation.c:91-112) ->
    withWatermark(event-time)
  - grouping-by(timeout) -> session_window(ts, gap)
  - metrics-probe -> windowed groupBy counts
  - suppress -> dropDuplicatesWithinWatermark
  - rate-limit (token bucket, rate-limit.c:308) ->
    applyInPandasWithState per key
  - per-sink fan-out writes -> foreachBatch partitioned write
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from axosyslog_spark.operators.route import RouteSpec
from axosyslog_spark.plans.spec import flagship_spec


def stream_transcripts(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """File-stream source over a transcript parquet directory — the
    tail-a-growing-table analog of the file() source with bookmarks
    (Structured Streaming checkpoints replace persist-state)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def stream_pipeline(
    spark: SparkSession, stream: DataFrame, spec: RouteSpec | None = None
) -> DataFrame:
    """The flagship parse → enrich → route on an unbounded stream
    (stateless; the same compiled spec as the batch run_pipeline)."""
    return flagship_spec(spec).compile(spark, stream).routed


def _watermarked(df: DataFrame, delay: str) -> DataFrame:
    """``withWatermark`` on ``ts``. Event time must be a TIMESTAMP; the
    transcripts carry TIMESTAMP_NTZ, which is cast (its wall clock read
    in the session time zone, UTC in this engine)."""
    if isinstance(df.schema["ts"].dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.withWatermark("ts", delay)


def windowed_sink_counts(
    routed: DataFrame,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Per-sink tumbling-window counts with late-data handling — the
    metrics-probe analog under event time."""
    return (
        _watermarked(routed, watermark)
        .groupBy(F.window("ts", window).alias("w"), "sink")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "sink", "n")
    )


def session_aggregate(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """grouping-by(timeout) as a native session window: a context
    closes when no event arrives within the gap."""
    return (
        _watermarked(stream, watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            "conv_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_turns", "first_turn", "last_turn",
        )
    )


def suppress_stream(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """suppress() on a stream: duplicate (conv_id, text) rows within
    the watermark horizon are dropped."""
    return _watermarked(stream, watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "text"]
    )


_RL_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_seen", LongType()),
        StructField("n_passed", LongType()),
        StructField("n_dropped", LongType()),
    ]
)
_RL_STATE = StructType([StructField("passed", LongType())])


def rate_limit_stateful(
    stream: DataFrame, max_per_key: int = 100
) -> DataFrame:
    """Token-bucket rate limit per conversation as a custom stateful
    operator (applyInPandasWithState): at most ``max_per_key`` rows
    pass per key over the stream's lifetime; the rest are counted as
    dropped. Reference: modules/rate-limit-filter/rate-limit.c."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        passed = state.get[0] if state.exists else 0
        seen = dropped = 0
        for pdf in pdfs:
            n = len(pdf)
            seen += n
            can = max(0, max_per_key - passed)
            take = min(can, n)
            passed += take
            dropped += n - take
        state.update((passed,))
        yield pd.DataFrame(
            [
                {
                    "conv_id": key[0],
                    "n_seen": seen,
                    "n_passed": passed,
                    "n_dropped": dropped,
                }
            ]
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=_RL_SCHEMA,
        stateStructType=_RL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_RLB_STATE = StructType(
    [StructField("bucket", LongType()), StructField("passed", LongType())]
)


def rate_limit_bucket_stateful(
    stream: DataFrame,
    rate: int,
    window_s: int = 1,
    ts_col: str = "ts",
    order_col: str = "turn_idx",
    key_col: str = "conv_id",
) -> DataFrame:
    """rate-limit(rate(R)) with time replenishment, streaming form:
    the first ``rate`` rows per key within each ``window_s``-second
    EVENT-TIME bucket pass through; the rest drop. Same contract as
    the batch ``operators.grouping.rate_limit_bucket`` (windowed
    allowance, deterministic under replay — see its docstring for the
    delta vs the reference's wall-clock refill,
    modules/rate-limit-filter/rate-limit.c:105-144), implemented
    incrementally with applyInPandasWithState so batch and streaming
    keep-sets are equal on any input (asserted in tests).

    State per key: (current bucket, rows passed in it). Rows inside a
    micro-batch are sorted by (bucket, order) before metering; buckets
    must arrive non-decreasing across micro-batches per key (true for
    a tailed source in event order). Emits the kept rows."""
    out_schema = stream.schema

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cur_bucket, passed = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts = pdf[ts_col]
            epoch = pd.Timestamp(0, tz=ts.dt.tz) if ts.dt.tz else pd.Timestamp(0)
            pdf = pdf.assign(
                __bucket=(ts - epoch) // pd.Timedelta(seconds=window_s)
            ).sort_values(["__bucket", order_col], kind="stable")
            keep = []
            for bucket, grp in pdf.groupby("__bucket", sort=True):
                if bucket != cur_bucket:
                    cur_bucket, passed = bucket, 0
                room = max(0, rate - passed)
                take = min(room, len(grp))
                passed += take
                if take:
                    keep.append(grp.iloc[:take])
            if keep:
                yield pd.concat(keep).drop(columns="__bucket")
        state.update((cur_bucket if cur_bucket is not None else -1, passed))

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_RLB_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def write_sinks(
    routed: DataFrame, out_dir: str, checkpoint_dir: str, trigger_available_now: bool = True
):
    """Per-sink streaming writes: one foreachBatch pass partitioning by
    sink (the multi-destination fan-out).

    Delivery contract: the stream checkpoint makes batch REPLAY
    at-least-once; the plain append inside foreachBatch is not
    idempotent, so a crash between write and checkpoint commit can
    duplicate one epoch. For exactly-once, point the batch write at a
    transactional table format or dedup on (conv_id, turn_idx, sink)
    downstream — the batch path's bucket checkpoints (checkpoint.py)
    are the exactly-once story in this repo."""

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        (
            batch.write.mode("append")
            .partitionBy("sink")
            .parquet(out_dir)
        )

    writer = routed.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
