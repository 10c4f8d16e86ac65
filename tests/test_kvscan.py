"""Generic kv-scanner cases ported from
lib/scanner/kv-scanner/tests/test_kv_scanner.c."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from axosyslog_spark.operators.kvscan import kv_parse, kv_scan, kv_stray_words


def _scan(spark, line, **kw):
    df = spark.createDataFrame([(line,)], "text string")
    [row] = df.select(kv_scan(F.col("text"), **kw).alias("p")).collect()
    return [(p["key"], p["value"]) for p in row["p"]]


def _scan_q(spark, line, **kw):
    df = spark.createDataFrame([(line,)], "text string")
    [row] = df.select(kv_scan(F.col("text"), **kw).alias("p")).collect()
    return [(p["key"], p["value"], p["was_quoted"]) for p in row["p"]]


def test_incomplete_string_returns_no_pairs(spark):
    for s in ["", "f", "fo", "foo"]:
        assert _scan(spark, s) == []


def test_name_equals_value_returns_a_pair(spark):
    assert _scan(spark, "foo=") == [("foo", "")]
    assert _scan(spark, "foo=b") == [("foo", "b")]
    assert _scan(spark, "foo=bar") == [("foo", "bar")]


def test_allowed_key_characters(spark):
    assert _scan(spark, "FOOfoo123-_._-321oofOOF=value") == [
        ("FOOfoo123-_._-321oofOOF", "value")
    ]


def test_initial_stray_words_are_ignored(spark):
    assert _scan(spark, "lorem ipsum foo=bar") == [("foo", "bar")]


def test_non_initial_stray_words_are_added_to_the_last_value(spark):
    assert _scan(spark, "foo=bar lorem ipsum key=value some more values") == [
        ("foo", "bar lorem ipsum"),
        ("key", "value some more values"),
    ]


def test_empty_values_in_a_series(spark):
    assert _scan(spark, "k= a=b c=d") == [("k", ""), ("a", "b"), ("c", "d")]


def test_multiple_key_values(spark):
    assert _scan(spark, "key1=value1 key2=value2 key3=value3 ") == [
        ("key1", "value1"), ("key2", "value2"), ("key3", "value3"),
    ]


def test_spaces_between_values_are_ignored(spark):
    assert _scan(spark, "key1=value1    key2=value2     key3=value3 ") == [
        ("key1", "value1"), ("key2", "value2"), ("key3", "value3"),
    ]


def test_comma_separated_values(spark):
    assert _scan(spark, "key1=value1, key2=value2, key3=value3") == [
        ("key1", "value1"), ("key2", "value2"), ("key3", "value3"),
    ]


def test_tab_is_not_considered_a_separator(spark):
    assert _scan(spark, "key1=value1\tkey2=value2 key3=value3") == [
        ("key1", "value1\tkey2=value2"), ("key3", "value3"),
    ]


def test_quoted_values_are_unquoted_like_c_strings(spark):
    assert _scan(spark, 'foo="\\"" bar=baz') == [("foo", '"'), ("bar", "baz")]
    assert _scan(spark, 'foo="bar\\nbaz"') == [("foo", "bar\nbaz")]


def test_quotes_embedded_in_an_unquoted_value_are_left_intact(spark):
    assert _scan(spark, 'foo=a "bar baz" ') == [("foo", 'a "bar baz"')]
    assert _scan(spark, 'foo=a "bar baz') == [("foo", 'a "bar baz')]


def test_separator_in_an_unquoted_value_is_taken_literally(spark):
    assert _scan(spark, "k=a=b c=d") == [("k", "a=b"), ("c", "d")]
    assert _scan(spark, "a==b=") == [("a", "=b=")]


def test_keys_without_value_separator_are_ignored(spark):
    assert _scan(spark, "key1 key2=value2 key3 key4=value4") == [
        ("key2", "value2 key3"), ("key4", "value4"),
    ]


def test_quoted_values_are_one_token(spark):
    assert _scan(spark, 'key1="value foo" key2=marker') == [
        ("key1", "value foo"), ("key2", "marker"),
    ]


def test_was_quoted_flag(spark):
    assert _scan_q(spark, 'foo="bar"') == [("foo", "bar", True)]
    assert _scan_q(spark, "foo='bar'") == [("foo", "bar", True)]
    assert _scan_q(spark, "foo=bar") == [("foo", "bar", False)]


def test_spaces_around_value_separator_are_ignored(spark):
    assert _scan(spark, "key1: value1 key2 : value2", value_separator=":") == [
        ("key1", "value1"), ("key2", "value2"),
    ]


def test_custom_value_separator(spark):
    assert _scan(spark, "k:v a:b", value_separator=":") == [("k", "v"), ("a", "b")]


def test_empty_keys_are_not_pairs(spark):
    assert _scan(spark, "=v") == []
    assert _scan(spark, "k*=v") == []
    assert _scan(spark, "=") == []


def test_unclosed_quotes_are_literal(spark):
    assert _scan(spark, 'k="a') == [("k", '"a')]
    assert _scan(spark, "k=\\") == [("k", "\\")]
    assert _scan(spark, 'k="\\') == [("k", '"\\')]


def test_stray_words_collect(spark):
    df = spark.createDataFrame([("lorem ipsum foo=bar dolor",)], "text string")
    [row] = df.select(kv_stray_words(F.col("text")).alias("s")).collect()
    # 'dolor' is absorbed into foo's value; initial words collect
    assert row["s"] == "lorem,ipsum"


def test_kv_parse_map_prefix_and_last_wins(spark):
    df = spark.createDataFrame([("a=1 b=2 a=3",)], "text string")
    out = kv_parse(df, prefix=".kv.").collect()[0]
    assert out["kv"] == {".kv.a": "3", ".kv.b": "2"}


def test_kv_parse_stray_words_column(spark):
    df = spark.createDataFrame([("hello a=1",)], "text string")
    out = kv_parse(df, stray_words_to="strays").collect()[0]
    assert out["kv"] == {"a": "1"} and out["strays"] == "hello"


def test_linux_audit_parse(spark):
    """linux-audit-parser: msg=audit(...) split + hex-decoded fields
    (modules/kvformat/linux-audit-parser.c)."""
    from axosyslog_spark.operators.kvscan import linux_audit_parse

    # proctitle hex = '/sbin/foo -a b' (contains spaces -> decoded);
    # a0 is hex-shaped but NOT a hexcoded field -> kept;
    # comm hex decodes to 'cat' (no specials) -> kept as hex
    line = (
        "type=SYSCALL msg=audit(1364481363.243:24287): arch=c000003e "
        'a0=636174 comm="cat" exe="/bin/cat" '
        "proctitle=2F7362696E2F666F6F202D612062"
    )
    df = spark.createDataFrame([(line,)], "text string")
    row = linux_audit_parse(df).collect()[0]
    audit = row["audit"]
    assert row["audit_type"] == "SYSCALL"
    assert row["audit_serial"] == 24287
    assert str(row["audit_ts"]).startswith("2013-03-28")
    assert audit["arch"] == "c000003e"
    assert audit["a0"] == "636174"                       # not a hexcoded field
    assert audit["comm"] == "cat"                        # was quoted
    assert audit["exe"] == "/bin/cat"
    assert audit["proctitle"] == "/sbin/foo -a b"        # hex-decoded


def test_stx_byte_stripped_not_garbled(spark):
    """A literal STX never garbles a value: the quoted-value decode uses
    no marker byte, so it keeps the STX, and kv_stray_words, whose
    span marker it is, strips it."""
    from axosyslog_spark.operators.kvscan import kv_parse

    df = spark.createDataFrame(
        [(0, 'a="x\x02y \\\\ z", b=2 '), (1, "str\x02ay w, k=v")],
        "id int, text string",
    )
    out = {
        r["id"]: r.asDict()
        for r in kv_parse(df, stray_words_to="stray").collect()
    }
    # STX kept; the backslash decode still turns \\ into \
    assert out[0]["kv"]["a"] == "x\x02y \\ z"
    assert out[0]["kv"]["b"] == "2"
    assert out[1]["stray"] == "stray,w"
    assert out[1]["kv"]["k"] == "v"
