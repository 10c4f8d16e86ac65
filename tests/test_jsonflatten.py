"""Generic JSON flatten tests (modules/json/json-parser.c semantics)."""

from __future__ import annotations

from axosyslog_spark.operators.jsonflatten import json_flatten


def _flatten(spark, line, **kw):
    df = spark.createDataFrame([(line,)], "text string")
    row = json_flatten(df, **kw).collect()[0]
    return row["jsonf"], row["jsonf_ok"]


def test_scalars_and_nesting(spark):
    m, ok = _flatten(spark, '{"a": 1, "b": {"c": "x", "d": {"e": true}}, "f": null}')
    assert ok
    assert m == {"a": "1", "b.c": "x", "b.d.e": "true", "f": None}


def test_deep_nesting_within_bound(spark):
    line = '{"l1": {"l2": {"l3": {"l4": {"l5": "deep"}}}}}'
    m, _ = _flatten(spark, line)
    assert m == {"l1.l2.l3.l4.l5": "deep"}


def test_depth_bound_leaves_rest_as_json(spark):
    line = '{"a": {"b": {"c": "v"}}}'
    m, _ = _flatten(spark, line, max_depth=1)
    assert m == {"a.b": '{"c":"v"}'}


def test_all_string_array_becomes_comma_list(spark):
    long = "a" * 20000
    m, _ = _flatten(spark, '{"tags": ["a", "b", "c"], "one": ["x"], "long": ["%s"]}' % long)
    assert m == {"tags": "a,b,c", "one": "x", "long": long}


def test_mixed_array_stays_raw_json(spark):
    m, _ = _flatten(spark, '{"xs": [1, "a"], "ys": [1, 2]}')
    assert m["xs"] in ('[1, "a"]', '[1,"a"]')
    assert m["ys"] in ("[1, 2]", "[1,2]")


def test_prefix_and_key_delimiter(spark):
    m, _ = _flatten(spark, '{"a": {"b": 1}}', prefix=".json.", key_delimiter="~")
    assert m == {".json.a~b": "1"}


def test_extract_prefix(spark):
    m, _ = _flatten(
        spark, '{"outer": {"k": "v", "n": {"x": 2}}, "skip": 1}',
        extract_prefix="outer",
    )
    assert m == {"k": "v", "n.x": "2"}


def test_marker(spark):
    m, ok = _flatten(spark, '@cee:{"a": 1}', marker="@cee:")
    assert ok and m == {"a": "1"}
    m, ok = _flatten(spark, '{"a": 1}', marker="@cee:")
    assert not ok and m is None


def test_non_json_is_not_ok(spark):
    m, ok = _flatten(spark, "plain text")
    assert not ok and m is None


def test_duplicate_dotted_keys_last_wins(spark):
    m, _ = _flatten(spark, '{"a.b": "literal", "a": {"b": "nested"}}')
    assert m == {"a.b": "nested"}
