"""Correlation synthetic-message emission + context template funcs +
value-pairs scopes."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from axosyslog_spark.functions import templates as tf
from axosyslog_spark.operators import grouping
from axosyslog_spark.operators.rewrite import value_pairs_select


def _turns(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "login failed", t0),
        ("c1", 1, "login failed", t0),
        ("c1", 2, "login failed", t0),
        ("c2", 0, "login ok", t0),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp"
    )


def test_correlate_pass_through(spark):
    out = grouping.correlate(
        _turns(spark),
        value="text",
        trigger=F.col("n_turns") >= 3,
        synthetic_template={
            "text": F.concat(F.lit("ALERT "), F.col("n_turns").cast("string"), F.lit(" msgs"))
        },
    ).collect()
    synth = [r for r in out if r.synthetic]
    assert len(synth) == 1
    assert synth[0].conv_id == "c1" and synth[0].text == "ALERT 3 msgs"
    assert synth[0].turn_idx == -1
    assert len([r for r in out if not r.synthetic]) == 4  # originals kept


def test_correlate_aggregate_only(spark):
    out = grouping.correlate(
        _turns(spark), trigger=None, inject_mode="aggregate-only"
    ).collect()
    assert {r.conv_id for r in out} == {"c1", "c2"}
    assert all(r.synthetic for r in out)


def test_context_funcs(spark):
    df = grouping.grouped_ordered_agg(_turns(spark), value="text").withColumn(
        "ctx", F.split("agg_values", ",")
    )
    r = df.filter(F.col("conv_id") == "c1").select(
        tf.tf_context_length(F.col("ctx")).alias("n"),
        tf.tf_grep(F.col("ctx"), lambda x: x.contains("failed")).alias("hits"),
        tf.tf_grep(
            F.col("ctx"), lambda x: x.contains("failed"), max_count=2
        ).alias("capped"),
    ).collect()[0]
    # LM_VT_LIST wire form: encoded comma list ('login failed' has a
    # space -> each element double-quoted per str-repr/encode.c)
    assert r.n == "3"
    assert r.hits == '"login failed","login failed","login failed"'
    assert r.capped == '"login failed","login failed"'


def test_value_pairs_scope(spark):
    df = spark.createDataFrame(
        [(13, "h", "a", "b", 5, 1)],
        "pri int, host string, appname string, body string, severity int, facility int",
    )
    out = value_pairs_select(df, scope="rfc3164", transforms=[("add-prefix", "o.")])
    assert set(out.columns) == {"o.pri", "o.host", "o.appname", "o.body"}
    out2 = value_pairs_select(df, scope="selected-macros")
    assert set(out2.columns) == {"severity", "facility"}
