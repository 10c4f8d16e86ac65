"""grouping-by() / correlation analogs: keyed, ordered aggregation.

Reference: modules/correlation/groupingby.c:102-132 — contexts keyed by
(scope, key template), rows sorted by sort-key() inside the context
(correlation-context.c:72-90), closed by timeout()/trigger(), filtered
by where()/having(), emitting one synthetic message per context from
aggregate() templates.

Batch Spark mapping:
  - context        = groupBy(key)
  - sort-key()     = array_sort(collect_list(struct(sort_key, ...)))
    (order restored inside the aggregate, NOT via a global sort)
  - where()        = pre-filter; having() = post-filter
  - timeout()      = event-time gap sessionization (lag(ts) > gap)
  - trigger()      = post-aggregation predicate emitting the row

Skew discipline (north_rule): a hot conv_id would funnel through one
reducer. ``salted_ordered_agg`` does two-phase aggregation — partial
aggregate on (key, salt), merge on key — so a conversation owning 30%
of all rows still spreads over N partitions. Order is restored by
sorting the collected (turn_idx, value) structs, which keeps the
stable (conv_id, turn_idx) contract without a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def grouped_ordered_agg(
    df: DataFrame,
    key: str = "conv_id",
    sort_key: str = "turn_idx",
    value: str = "role",
    having: Column | None = None,
) -> DataFrame:
    """One synthetic row per context: n_turns, first/last ts, and the
    ordered concatenation of ``value`` (the aggregate() template analog).

    Single shuffle on ``key`` with map-side partial aggregation; the
    in-group order comes from sorting collected structs, never from a
    global sort.
    """
    out = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(sort_key, value))),
                lambda x: x[value],
            ),
            ",",
        ).alias("agg_values"),
    )
    if having is not None:
        out = out.filter(having)
    return out


def salted_ordered_agg(
    df: DataFrame,
    key: str = "conv_id",
    sort_key: str = "turn_idx",
    value: str = "role",
    fragment_rows: int = 1024,
) -> DataFrame:
    """Skew-aware two-phase variant of grouped_ordered_agg.

    Phase 1 aggregates on (key, salt) where salt = sort_key DIV
    fragment_rows — partials are bounded by ``fragment_rows`` even for
    a pathological key, so a conversation owning 30% of all rows still
    spreads across reducers. Phase 2 merges the per-salt partials:
    counts sum, min/max fold, and the ordered value string is rebuilt
    by sorting the per-salt fragments on their minimum sort_key.
    Fragments are contiguous ranges (range salt, NOT a hash), so
    fragment order == row order. Output equals the unsalted version
    (tested in tests/test_grouping.py).
    """
    salt = F.floor(F.col(sort_key) / F.lit(max(fragment_rows, 1)))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(key, "__salt")
        .agg(
            F.count(F.lit(1)).alias("pc"),
            F.min("ts").alias("pmin_ts"),
            F.max("ts").alias("pmax_ts"),
            F.min(sort_key).alias("pmin_sk"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(sort_key, value))),
                    lambda x: x[value],
                ),
                ",",
            ).alias("pvals"),
        )
    )
    return partial.groupBy(key).agg(
        F.sum("pc").alias("n_turns"),
        F.min("pmin_ts").alias("first_ts"),
        F.max("pmax_ts").alias("last_ts"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pmin_sk", "pvals"))),
                lambda x: x["pvals"],
            ),
            ",",
        ).alias("agg_values"),
    )


def correlate(
    df: DataFrame,
    key: str = "conv_id",
    sort_key: str = "turn_idx",
    value: str = "text",
    trigger: Column | None = None,
    synthetic_template: dict[str, Column] | None = None,
    inject_mode: str = "pass-through",
) -> DataFrame:
    """PatternDB correlation / grouping-by trigger analog: contexts
    (groupBy key) that satisfy ``trigger`` emit ONE synthetic message
    built from ``synthetic_template`` (columns over the aggregated
    context — n_turns, first_ts, last_ts, agg_values are in scope).

    inject_mode (stateful-parser.h:31-33):
      - 'pass-through': original rows + synthetic rows (unionByName)
      - 'aggregate-only': only the synthetic rows
    Reference: modules/correlation/pdb-action.c, synthetic-message.c,
    groupingby.c trigger().
    """
    ctx = grouped_ordered_agg(df, key, sort_key, value)
    if trigger is not None:
        ctx = ctx.filter(trigger)
    template = synthetic_template or {
        "text": F.concat(
            F.lit("context "), F.col(key), F.lit(" closed: "),
            F.col("n_turns").cast("string"), F.lit(" messages"),
        )
    }
    synth = ctx.select(
        F.col(key),
        F.lit(-1).cast("int").alias(sort_key),  # synthetic marker position
        *[c.alias(name) for name, c in template.items()],
    ).withColumn("synthetic", F.lit(True))
    if inject_mode == "aggregate-only":
        return synth
    return df.withColumn("synthetic", F.lit(False)).unionByName(
        synth, allowMissingColumns=True
    )


def sessionize(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """timeout() analog in batch: event-time gap sessionization.

    A new session starts when the gap to the previous row (per key,
    event-time order) exceeds ``gap_minutes`` — the batch equivalent of
    the reference's timer-wheel context timeout clamped to the message
    clock (modules/correlation/correlation.c:91-112). Adds
    ``session_id: int`` (0-based per key).
    """
    w = Window.partitionBy(key).orderBy(ts_col)
    prev_ts = F.lag(ts_col).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts) > gap_minutes * 60),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        (F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast("int"),
    )


def group_lines(
    df: DataFrame,
    key: str = "conv_id",
    sort_key: str = "turn_idx",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """group-lines() / multi-line assembly analog: rebuild one document
    per key by concatenating lines in sort order
    (modules/correlation/group-lines.c, lib/multi-line/)."""
    return df.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(sort_key, text_col))),
                lambda x: x[text_col],
            ),
            sep,
        ).alias("assembled"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def suppress(
    df: DataFrame,
    key: str = "conv_id",
    sort_key: str = "turn_idx",
    value: str = "text",
    within_seconds: float | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """suppress() analog: drop consecutive duplicate messages per key
    (lib/logwriter.c suppress logic). If ``within_seconds`` is given,
    only duplicates inside that window are suppressed."""
    w = Window.partitionBy(key).orderBy(sort_key)
    same = F.col(value) == F.lag(value).over(w)
    if within_seconds is not None:
        same = same & (
            F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.lag(ts_col).over(w))
            <= within_seconds
        )
    return df.withColumn("__dup", F.coalesce(same, F.lit(False))).filter(
        ~F.col("__dup")
    ).drop("__dup")


def event_time_bucket(ts: Column, window_s) -> Column:
    """The ``window_s``-second event-time bucket of ``ts`` (an int or a
    Column). Cast via timestamp first: TIMESTAMP_NTZ -> double is not
    allowed directly (the session tz is pinned UTC, so ntz==utc here)."""
    return F.floor(ts.cast("timestamp").cast("double") / window_s)


def first_n(
    df: DataFrame, keys: list, order, n, zero_unlimited: bool = False
) -> DataFrame:
    """The one first-N-per-window kernel behind every rate limit: keep
    the first ``n`` rows (an int or a per-row Column) of each ``keys``
    group in ``order``; with ``zero_unlimited`` a rate of 0 keeps them
    all. One window shuffle on ``keys``."""
    w = Window.partitionBy(*keys).orderBy(order)
    keep = F.col("__rn") <= n
    if zero_unlimited:
        keep = (n == 0) | keep
    return df.withColumn("__rn", F.row_number().over(w)).filter(keep).drop("__rn")


def rate_limit(
    df: DataFrame,
    key_cols: list[str],
    max_rows: int,
    order_col: str = "turn_idx",
) -> DataFrame:
    """rate-limit() analog in batch: keep the first ``max_rows`` rows
    per key in event order (modules/rate-limit-filter/rate-limit.c
    token bucket → deterministic batch equivalent). This is the
    whole-batch cap; for the time-replenished contract see
    ``rate_limit_bucket``."""
    return first_n(df, key_cols, order_col, max_rows)


def rate_limit_bucket(
    df: DataFrame,
    key_cols: list[str],
    rate: int,
    window_s: int = 1,
    ts_col: str = "ts",
    order_col: str = "turn_idx",
) -> DataFrame:
    """rate-limit(rate(R)) with time replenishment, batch analog: the
    first R rows per key within each ``window_s``-second EVENT-TIME
    bucket pass; later ones drop. A config ``rate-limit(rate(100/60s))``
    maps to rate=100, window_s=60.

    Contract vs the reference (rate-limit.c:105-144, a wall-clock token
    bucket with continuous refill): the windowed allowance admits the
    same steady-state R per window_s but resets the burst budget at
    bucket boundaries instead of carrying fractional tokens across
    them, and it meters EVENT time, not arrival wall-clock — the only
    definition that is deterministic under replay and order-independent
    across executors. The recurrence of a true token bucket (tokens
    consumed only by previously-admitted rows) is inherently
    sequential per key; the bucketed form is one shuffle on
    (key, bucket) and keeps hot keys spread across windows.
    ``streaming.pipeline.rate_limit_bucket_stateful`` implements the
    SAME contract incrementally, so batch and streaming keep-sets are
    equal on any input (asserted in tests)."""
    bucket = event_time_bucket(F.col(ts_col), F.lit(window_s))
    return first_n(df, [*key_cols, bucket], order_col, rate)


# scope -> key columns widened into the context key (correlation-key.h:29-40)
_CONTEXT_SCOPE_COLS = {
    "global": (),
    "host": ("host",),
    "program": ("host", "appname"),
    "process": ("host", "appname", "procid"),
}


def correlate_pdb(df: DataFrame, rules) -> DataFrame:
    """PatternDB correlation contexts from rule attributes
    (modules/correlation/pdb-context.c, synthetic-context.c): rules
    carrying ``context-id`` group their matched rows by
    (scope columns, rendered context-id template); a context closes
    when the event-time gap exceeds ``context-timeout`` (the batch
    analog of the timer wheel clamped to the message clock,
    correlation.c:91-112). Each closed context emits the rule's
    trigger='timeout' action messages, with the per-context aggregates
    bound as CONTEXT_ID / CONTEXT_LENGTH / first_ts / last_ts.

    Expects a frame already through PatternDB.apply (rule_id + field
    columns). Returns the synthetic context-close rows (one per
    context per timeout action).
    """
    from axosyslog_spark.functions.template_compiler import (
        TemplateContext,
        compile_template,
    )

    ctx = TemplateContext(field_fallback=True)
    out = None
    for rule in rules:
        if not rule.context_id:
            continue
        timeout_actions = [a for a in rule.actions if a.trigger == "timeout"]
        if not timeout_actions:
            continue
        matched = df.filter(F.col("rule_id") == rule.rule_id)
        key = compile_template(rule.context_id, ctx)
        scope_cols = [
            c for c in _CONTEXT_SCOPE_COLS.get(rule.context_scope, ())
            if c in df.columns
        ]
        keyed = matched.withColumn(
            "__ctx_key",
            F.concat_ws(
                "\x01", *[F.coalesce(F.col(c), F.lit("")) for c in scope_cols], key
            ),
        )
        gap_min = max(rule.context_timeout, 1) / 60.0
        sess = sessionize(keyed, key="__ctx_key", gap_minutes=gap_min)
        # the context's message list, time-ordered (ts leads the struct
        # so array_sort orders by arrival like the reference's context
        # append) — feeds $(context-values)/$(context-lookup)/$(grep)
        # in action templates as one higher-order expression, no
        # explode/second shuffle
        entry_fields = ["ts"] + [
            c for c in keyed.columns
            if c not in ("ts", "__ctx_key")
            and not c.startswith("__")
            and dict(keyed.dtypes)[c] in ("string", "int", "bigint")
        ]
        agg = sess.groupBy("__ctx_key", "session_id").agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.array_sort(
                F.collect_list(F.struct(*entry_fields))
            ).alias("__ctx_entries"),
        )
        close_ctx = TemplateContext(
            columns={
                "CONTEXT_ID": F.col("__ctx_key"),
                "CONTEXT_LENGTH": F.col("n_msgs"),
            },
            stamp=F.col("last_ts"),
            field_fallback=False,
            context_entries=F.col("__ctx_entries"),
            context_entry_fields=tuple(entry_fields),
        )
        for action in timeout_actions:
            synth = agg.select(
                F.col("__ctx_key").alias("context_key"),
                F.col("session_id").cast("int").alias("context_instance"),
                F.lit(rule.rule_id).alias("rule_id"),
                F.col("n_msgs"),
                "first_ts",
                "last_ts",
                *[
                    compile_template(tmpl, close_ctx).alias(name)
                    for name, tmpl in action.values
                ],
            ).withColumn("synthetic", F.lit(True))
            out = synth if out is None else out.unionByName(
                synth, allowMissingColumns=True
            )
    if out is None:
        raise ValueError("no rule carries context-id + a timeout action")
    return out
