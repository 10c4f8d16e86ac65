"""Deterministic multi-turn transcript table (the primary input).

Shape per BASELINE.json ``input_hint``:
    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp)

Two generators, both deterministic with NO wall-clock or RNG state:

1. ``synthesize_transcripts(spark, sf_dir)`` — derives transcripts
   from the driver-provided ``events.parquet`` by pure column algebra
   (every derivation is also expressible in ANSI SQL, see
   ``TRANSCRIPTS_ORACLE_CTE``, so the whole downstream pipeline is
   DuckDB-oracle-checkable at any scale factor).

2. ``generate_transcripts(spark, ...)`` — a standalone seeded
   generator (spark.range-based, fully distributed) used for the large
   benchmark input and skew / malformed-rate fixtures. Analog of the
   reference's example-msg-generator (modules/examples/sources/
   msg-generator) and loggen (tests/loggen/loggen.c).

The embedded ``text`` payload mixes four shapes (FIXTURES.md F1):
  - RFC5424-style syslog line  (~40%):  <pri>1 TS host app pid - - MSG
  - key=value line             (~30%):  status=... latency_ms=... path=...
  - JSON body                  (~20%):  {"event": ..., "k": ..., ...}
  - free text                  (~10%)
  - ~2% of syslog-shaped rows malformed (header stripped) to exercise
    parse-quality tagging (reference: unparsed-tag family,
    lib/logmsg/logmsg.h:108-144).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axosyslog_spark.functions.literals import per_jvm
from axosyslog_spark.sources.parquet import read_parquet

# ---------------------------------------------------------------------------
# Shared derivation spec (keep the Spark exprs and the DuckDB CTE in sync!)
#
#   sev       = event_id % 8                 (syslog severity 0..7)
#   fac       = user_id % 24                 (syslog facility)
#   pri       = fac * 8 + sev
#   host      = 'host-' || (user_id % 5)
#   appname   = 'proc_' || event_type
#   procid    = event_id % 1000
#   latency   = floor(value * 37) + 1        (bigint)
#   status    = 'error' if sev <= 3 else 'ok'
#   path      = '/v1/' || event_type
#   kjson     = regexp_extract(props, '([0-9]+)', 1)
#   shape     = event_id % 10   (0-3 syslog | 4-6 kv | 7-8 json | 9 free)
#   malformed = shape <= 3 AND event_id % 50 == 3
#   role      = 0-2 user | 3-5 assistant | 6 system | 7-9 tool   (event_id % 10)
#   tool      = '' unless role == 'tool';
#               'tool_unknown_<event_id%3>' if event_id % 20 == 19
#               else 'tool_' || lpad(event_id % 16, 2, '0')
#   conv_id   = 'conv-' || lpad(user_id, 8, '0')
#   turn_idx  = row_number() over (partition by user_id order by event_id) - 1
#   ts        = events.ts
# ---------------------------------------------------------------------------

TS_FMT_SPARK = "yyyy-MM-dd'T'HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%dT%H:%M:%S"


def _build_from_events(ev: DataFrame) -> DataFrame:
    """Core: events-shaped frame -> transcript frame (pure column algebra).

    The only shuffle is the per-conversation row_number window; at
    production scale this is served by the source table's (conv_id)
    clustering, and turn ordering downstream never re-sorts globally.

    The window runs FIRST, over the raw event columns only, and every
    derived column (text is ~100 bytes, conv_id/role/tool ~30 more) is
    projected AFTER the exchange — the shuffle and its sort move ~50
    bytes/row of primitives instead of ~180 bytes/row of derived
    strings (guide §2.3, project before the exchange; round 6).
    """
    windowed, derived = _transcript_columns()
    return ev.select(*windowed).select(*derived)


@per_jvm
def _transcript_columns() -> tuple[list[Column], list[Column]]:
    """The two select lists of _build_from_events (window first, then
    every derived column), built once per JVM."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    windowed = [
        F.col(c) for c in ("event_id", "user_id", "event_type", "value", "props", "ts")
    ] + [(F.row_number().over(w) - 1).cast("int").alias("__turn_idx")]
    eid = F.col("event_id")
    uid = F.col("user_id")
    sev = (eid % 8).cast("int")
    pri = ((uid % 24).cast("int") * 8 + sev).cast("int")
    host = F.concat(F.lit("host-"), (uid % 5).cast("string"))
    appname = F.concat(F.lit("proc_"), F.col("event_type"))
    procid = (eid % 1000).cast("string")
    latency = (F.floor(F.col("value") * 37) + 1).cast("bigint").cast("string")
    status = F.when(sev <= 3, F.lit("error")).otherwise(F.lit("ok"))
    path = F.concat(F.lit("/v1/"), F.col("event_type"))
    kjson = F.regexp_extract(F.col("props"), "([0-9]+)", 1)
    ts_str = F.date_format(F.col("ts"), TS_FMT_SPARK)
    shape = (eid % 10).cast("int")
    # eid%50==3 implies eid%10==3 (a syslog-shaped row), so ~2% of all
    # rows / 5% of syslog rows carry a stripped BADHDR header
    malformed = (eid % 10 <= 3) & (eid % 50 == 3)

    syslog_line = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">1 "), ts_str,
        F.lit(" "), host, F.lit(" "), appname, F.lit(" "), procid,
        F.lit(" - - status="), status,
        F.lit(" latency_ms="), latency, F.lit(" path="), path,
    )
    malformed_line = F.concat(
        F.lit("BADHDR "), ts_str, F.lit(" "), host,
        F.lit(" status="), status, F.lit(" latency_ms="), latency,
    )
    kv_line = F.concat(
        F.lit("status="), status, F.lit(" latency_ms="), latency,
        F.lit(" path="), path, F.lit(" retry="), (eid % 3).cast("string"),
    )
    json_line = F.concat(
        F.lit('{"event": "'), F.col("event_type"), F.lit('", "k": '), kjson,
        F.lit(', "latency_ms": '), latency, F.lit("}"),
    )
    free_line = F.concat(F.lit("turn about "), F.col("event_type"), F.lit(" with no structure"))

    text = (
        F.when(malformed, malformed_line)
        .when(shape <= 3, syslog_line)
        .when(shape <= 6, kv_line)
        .when(shape <= 8, json_line)
        .otherwise(free_line)
    )
    role = (
        F.when(eid % 10 <= 2, F.lit("user"))
        .when(eid % 10 <= 5, F.lit("assistant"))
        .when(eid % 10 == 6, F.lit("system"))
        .otherwise(F.lit("tool"))
    )
    tool = F.when(
        eid % 10 >= 7,
        F.when(
            eid % 20 == 19,
            F.concat(F.lit("tool_unknown_"), (eid % 3).cast("string")),
        ).otherwise(
            F.concat(F.lit("tool_"), F.lpad((eid % 16).cast("string"), 2, "0"))
        ),
    ).otherwise(F.lit(""))

    return windowed, [
        F.concat(F.lit("conv-"), F.lpad(uid.cast("string"), 8, "0")).alias("conv_id"),
        F.col("__turn_idx").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts").alias("ts"),
    ]


def synthesize_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript table derived deterministically from events.parquet."""
    return _build_from_events(read_parquet(spark, f"{sf_dir}/events.parquet"))


def generate_transcripts(
    spark: SparkSession,
    n_rows: int,
    n_convs: int,
    skew_hot_convs: int = 0,
    skew_hot_fraction: float = 0.3,
    partitions: int | None = None,
) -> DataFrame:
    """Standalone seeded transcript generator for bench & skew tests.

    Fully distributed (spark.range → column algebra, no driver data).
    Deterministic: every column is a pure function of the row id.

    ``skew_hot_convs``: if > 0, that many conv_ids receive
    ``skew_hot_fraction`` of all rows (exercises salting, FIXTURES F1).
    """
    df = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    rid = F.col("id")
    if skew_hot_convs > 0:
        hot_rows = int(n_rows * skew_hot_fraction)
        conv_no = F.when(rid < hot_rows, rid % skew_hot_convs).otherwise(
            skew_hot_convs
            + ((rid * 2654435761) % (2**31)) % (n_convs - skew_hot_convs)
        )
    else:
        conv_no = ((rid * 2654435761) % (2**31)) % n_convs
    h1 = ((rid + 1) * 0x9E3779B9) % (2**31)  # deterministic per-row stream
    ev = df.select(
        rid.alias("event_id"),
        F.timestamp_seconds(F.lit(1704067200) + ((rid % 86400) * 31) % 2592000).alias("ts"),
        conv_no.cast("bigint").alias("user_id"),
        F.element_at(
            F.array(F.lit("click"), F.lit("view"), F.lit("error"), F.lit("run"), F.lit("purchase")),
            ((h1 % 5) + 1).cast("int"),
        ).alias("event_type"),
        ((h1 % 10000) / 100.0).alias("value"),
        F.concat(F.lit('{"k": '), (h1 % 97).cast("string"), F.lit("}")).alias("props"),
    )
    return _build_from_events(ev)


# DuckDB CTE producing the IDENTICAL table from the `events` view.
# Used by __spark_entry__.oracle_sql(); any change here must mirror
# _build_from_events above.
TRANSCRIPTS_ORACLE_CTE = """
transcripts AS (
  SELECT
    'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
    CASE WHEN event_id % 10 <= 2 THEN 'user'
         WHEN event_id % 10 <= 5 THEN 'assistant'
         WHEN event_id % 10 = 6 THEN 'system'
         ELSE 'tool' END AS role,
    CASE
      WHEN event_id % 10 <= 3 AND event_id % 50 = 3 THEN
        'BADHDR ' || strftime(ts, '%Y-%m-%dT%H:%M:%S') || ' host-' || CAST(user_id % 5 AS VARCHAR)
        || ' status=' || (CASE WHEN event_id % 8 <= 3 THEN 'error' ELSE 'ok' END)
        || ' latency_ms=' || CAST(CAST(floor(value * 37) AS BIGINT) + 1 AS VARCHAR)
      WHEN event_id % 10 <= 3 THEN
        '<' || CAST((user_id % 24) * 8 + (event_id % 8) AS VARCHAR) || '>1 '
        || strftime(ts, '%Y-%m-%dT%H:%M:%S') || ' host-' || CAST(user_id % 5 AS VARCHAR)
        || ' proc_' || event_type || ' ' || CAST(event_id % 1000 AS VARCHAR)
        || ' - - status=' || (CASE WHEN event_id % 8 <= 3 THEN 'error' ELSE 'ok' END)
        || ' latency_ms=' || CAST(CAST(floor(value * 37) AS BIGINT) + 1 AS VARCHAR)
        || ' path=/v1/' || event_type
      WHEN event_id % 10 <= 6 THEN
        'status=' || (CASE WHEN event_id % 8 <= 3 THEN 'error' ELSE 'ok' END)
        || ' latency_ms=' || CAST(CAST(floor(value * 37) AS BIGINT) + 1 AS VARCHAR)
        || ' path=/v1/' || event_type || ' retry=' || CAST(event_id % 3 AS VARCHAR)
      WHEN event_id % 10 <= 8 THEN
        '{"event": "' || event_type || '", "k": ' || regexp_extract(props, '([0-9]+)', 1)
        || ', "latency_ms": ' || CAST(CAST(floor(value * 37) AS BIGINT) + 1 AS VARCHAR) || '}'
      ELSE 'turn about ' || event_type || ' with no structure'
    END AS text,
    CASE WHEN event_id % 10 >= 7 THEN
      CASE WHEN event_id % 20 = 19 THEN 'tool_unknown_' || CAST(event_id % 3 AS VARCHAR)
           ELSE 'tool_' || lpad(CAST(event_id % 16 AS VARCHAR), 2, '0') END
    ELSE '' END AS tool,
    ts
  FROM events
)
"""
