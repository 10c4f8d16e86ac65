"""Comparison truth table (FIXTURES.md F5) lifted from
lib/filter/tests/test_filters_fop_cmp.c, plus the classic filter
drivers (severity/facility/netmask/in-list/tags/glob)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from axosyslog_spark.operators import filters as flt


@pytest.fixture(scope="module")
def one(spark):
    return spark.range(1)


def ev(one, col):
    return one.select(col.alias("v")).collect()[0].v


def T(v):  # typed literal helper: (Column, type-tag)
    if v is None:
        return F.lit(None).cast("string"), "null"
    if isinstance(v, bool):
        return F.lit(v), "bool"
    if isinstance(v, int):
        return F.lit(v), "int"
    if isinstance(v, float):
        return F.lit(v), "double"
    if isinstance(v, dt.datetime):
        return F.lit(v), "datetime"
    return F.lit(v), "string"


# (lhs, op, rhs, expected) — typed mode (VERSION 4.0 semantics)
TYPED_CASES = [
    # strings compare as strings (including numeric-looking ones)
    ("alma", "!=", "korte", True),
    ("alma", "==", "korte", False),
    ("alma", "<", "korte", True),
    ("korte", ">", "alma", True),
    ("10", "!=", "11", True),
    ("10", "==", "11", False),
    ("10", "<", "7", True),          # bytewise!
    ("7", ">", "10", True),
    ("string", "==", "string", True),
    ("string", "!=", "string", False),
    # null equals null, differs from everything else
    (None, "==", None, True),
    (None, "!=", None, False),
    ("", "!=", None, True),          # string('') != null
    (0, "!=", None, True),
    (0.0, "!=", None, True),
    # null converts to 0 for ordering
    (None, "<", 1, True),
    (None, ">", -1, True),
    # mixed types numeric
    (32, "==", "32", True),
    (32, "<", "321", True),
    (32, ">", "7", True),
    (True, "==", 1, True),
    (False, "==", 0, True),
    (3.1415, "<", 3.145, True),
    (3.1415, ">", 3.14, True),
    (3.1415, ">", 3.14e0, True),
    (3.1415, "<", 0.314e2, True),
    # NaN poisons everything except !=
    (math.nan, "!=", math.nan, True),
    (math.nan, "<", "5", False),
    (math.nan, ">", "5", False),
    (math.nan, "==", math.nan, False),
    ("notanumber", "==", 5, False),  # unparseable string -> NaN
    ("notanumber", "!=", 5, True),
    # datetime compares as epoch millis
    (dt.datetime(2022, 5, 22, 19, 11, 24, 123000), "==", 1653246684123, True),
]


@pytest.mark.parametrize("lhs,op,rhs,expected", TYPED_CASES)
def test_typed_cmp_truth_table(one, lhs, op, rhs, expected):
    lc, lt = T(lhs)
    rc, rt = T(rhs)
    assert ev(one, flt.typed_cmp(lc, lt, rc, rt, op)) is expected


def test_type_and_value_cmp(one):
    lc, lt = T("10")
    rc, rt = T(10)
    assert ev(one, flt.typed_cmp(lc, lt, rc, rt, "===")) is False
    assert ev(one, flt.typed_cmp(lc, lt, rc, rt, "!==")) is True
    rc2, rt2 = T("10")
    assert ev(one, flt.typed_cmp(lc, lt, rc2, rt2, "===")) is True


def test_list_type_never_numeric(one):
    # json/list values are NaN in numeric context -> all False except !=
    l = F.lit("foo,bar,baz")
    assert ev(one, flt.typed_cmp(l, "list", F.lit(1234), "int", "<")) is False
    assert ev(one, flt.typed_cmp(l, "list", F.lit(1234), "int", ">")) is False
    assert ev(one, flt.typed_cmp(l, "list", F.lit(1234), "int", "==")) is False
    assert ev(one, flt.typed_cmp(l, "list", F.lit(1234), "int", "!=")) is True
    # same list type -> string comparison
    assert ev(one, flt.typed_cmp(l, "list", F.lit("foo,bar,baz"), "list", "==")) is True
    # list vs string: NaN vs NaN -> == False (test_..._objects case)
    assert ev(one, flt.typed_cmp(l, "list", F.lit("foo,bar,baz"), "string", "==")) is False


def test_string_mode_cmp(one):
    # classic eq/lt family: always bytewise
    assert ev(one, flt.string_cmp(F.lit(10), F.lit(10), "==")) is True
    assert ev(one, flt.string_cmp(F.lit("10"), F.lit("7"), "<")) is True
    assert ev(one, flt.string_cmp(F.lit("alma"), F.lit("korte"), "<")) is True


def test_compat_numeric_cmp(one):
    # 3.x compat: unparseable strings -> 0
    assert ev(one, flt.numeric_cmp(F.lit("alma"), F.lit("korte"), "==")) is True
    assert ev(one, flt.numeric_cmp(F.lit("alma"), F.lit("korte"), "<")) is False
    assert ev(one, flt.numeric_cmp(F.lit("10"), F.lit("7"), ">")) is True


def test_severity_facility_filters(spark):
    df = spark.createDataFrame(
        [(0, 0), (3, 4), (5, 16), (7, 23)], "severity int, facility int"
    )
    assert df.filter(flt.severity_in(["err", "crit"])).count() == 1
    assert df.filter(flt.severity_range("emerg", "err")).count() == 2
    assert df.filter(flt.facility_in(["auth", "local0"])).count() == 2
    assert df.filter(flt.facility_in([23])).count() == 1


def test_netmask(spark):
    df = spark.createDataFrame(
        [("10.0.0.5",), ("10.0.1.5",), ("192.168.1.1",)], "ip string"
    )
    assert df.filter(flt.netmask(F.col("ip"), "10.0.0.0/24")).count() == 1
    assert df.filter(flt.netmask(F.col("ip"), "10.0.0.0/16")).count() == 2
    assert df.filter(flt.netmask(F.col("ip"), "0.0.0.0/0")).count() == 3


def test_in_list_and_glob(spark):
    df = spark.createDataFrame([("web1",), ("db2",), ("web12",)], "host string")
    assert df.filter(flt.in_list(F.col("host"), ["web1", "db2"])).count() == 2
    assert df.filter(flt.glob_match(F.col("host"), "web*")).count() == 2
    assert df.filter(flt.glob_match(F.col("host"), "web?")).count() == 1


def test_has_tag(spark):
    df = spark.createDataFrame([(["a", "b"],), (["c"],)], "tags array<string>")
    assert df.filter(flt.has_tag("a")).count() == 1


def test_match_store_groups(spark):
    df = spark.createDataFrame([("err code=42",), ("nothing",)], "text string")
    out = flt.match_store_groups(df, r"code=(\d+)", n_groups=1).collect()
    by_text = {r["text"]: r.asDict() for r in out}
    assert by_text["err code=42"]["__matched"] is True
    assert by_text["err code=42"]["__m1"] == "42"
    assert by_text["nothing"]["__matched"] is False
    assert by_text["nothing"]["__m1"] == ""
    # an empty match is a match, as the reference's match() says
    # (a group that took no part in it reads "")
    out = flt.match_store_groups(df, r"x*|(q)", n_groups=1).collect()
    assert all(r["__matched"] is True for r in out)
    assert all(r["__m0"] == "" and r["__m1"] == "" for r in out)
    out = flt.match_store_groups(df, r"^", n_groups=0).collect()
    assert all(r["__matched"] is True for r in out)


def test_netmask6(spark):
    df = spark.createDataFrame(
        [("2001:db8::1",), ("2001:db9::1",), ("fe80::",), ("::1",)], "ip string"
    )
    assert sorted(
        r.ip for r in df.filter(flt.netmask6(F.col("ip"), "2001:db8::/32")).collect()
    ) == ["2001:db8::1"]
    assert df.filter(flt.netmask6(F.col("ip"), "::/0")).count() == 4


def test_ipv6_to_words_roundtrip(spark):
    import ipaddress

    addrs = ["::", "::1", "fe80::", "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff",
             "2001:db8:85a3::8a2e:370:7334"]
    df = spark.createDataFrame([(a,) for a in addrs], "ip string")
    for r in df.select("ip", flt.ipv6_to_words(F.col("ip")).alias("w")).collect():
        got = (r.w.w0 << 96) | (r.w.w1 << 64) | (r.w.w2 << 32) | r.w.w3
        assert got == int(ipaddress.ip_address(r.ip)), r.ip
